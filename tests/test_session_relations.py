"""The one session-relation registry (``session.session_relation``):
its staleness and eviction contract on a toy table, and that every
session-cached relation of the engine is routed through it."""

from __future__ import annotations

import os
import shutil

import pytest

from rdbms_scala_spark import session
from rdbms_scala_spark.catalog import table_path
from rdbms_scala_spark.pipeline import chunking, dedup, multimodal, similarity, text
from rdbms_scala_spark.queries import behavior
from rdbms_scala_spark.session import evict_session_relations, session_relation

SMALL = "/root/testdata/sf0.001"


def _persisted(spark) -> set[int]:
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(i) for i in ids}


def _checkpoint_rdd_id(df) -> int:
    """The id of the RDD a localCheckpoint result scans."""
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_session_relation_contract(spark, tmp_path):
    """Unchanged table: the same object, one build. Overwritten table:
    a rebuild, and the superseded checkpoint is unpersisted. Eviction:
    an empty registry and the live checkpoint unpersisted."""
    sf = str(tmp_path)
    path = table_path(sf, "toy")
    spark.range(10).write.parquet(path)
    builds = []

    def build():
        builds.append(1)
        return spark.read.parquet(path).localCheckpoint(eager=True)

    first = session_relation(spark, sf, "toy", "toy_rel", build)
    assert session_relation(spark, sf + "/", "toy", "toy_rel", build) is first
    assert len(builds) == 1
    first_id = _checkpoint_rdd_id(first)
    assert first_id in _persisted(spark)

    spark.range(20).write.mode("overwrite").parquet(path)
    second = session_relation(spark, sf, "toy", "toy_rel", build)
    assert second is not first
    assert len(builds) == 2
    assert second.count() == 20
    assert first_id not in _persisted(spark)
    key = (spark.sparkContext.applicationId, sf, "toy_rel")
    assert session._SESSION_RELATIONS[key][1] is second

    second_id = _checkpoint_rdd_id(second)
    assert second_id in _persisted(spark)
    evict_session_relations(spark)
    assert session._SESSION_RELATIONS == {}
    assert second_id not in _persisted(spark)


def _first(value):
    return value[0]


def _same(value):
    return value


# (accessor, registry tag, the part of its return value that is cached)
ACCESSORS = [
    (dedup.cached_jaccard_pairs, f"jaccard_pairs:{dedup.MAX_SHINGLE_DF}", _same),
    (dedup.cached_doc_shingles, "doc_shingles:3", _same),
    (dedup.cached_minhash_sig_cand, "minhash_sig_cand", _same),
    (dedup.simhash_candidate_pairs, "simhash_candidates", _same),
    (dedup._substring_dup_counts, "substring_dup_counts", _same),
    (dedup.cached_winnow_raw, "winnow_raw", _same),
    (dedup.cached_winnow_fingerprints, "winnow_capped", _same),
    (text.bpe_train, f"bpe:{text._BPE_ROUNDS}", _same),
    (text.nb_doc_predictions, "nb_predictions", _same),
    (chunking._decontam_cdc, "decontam_cdc", _same),
    (chunking._v0_standing_flags, "v0_standing_flags", _same),
    (multimodal.cached_phash_bands, "phash_bands", _same),
    (behavior.copurchase_graph, "copurchase_pairs", _first),
    (similarity.pq_encode, "pq_codes", _first),
]


@pytest.mark.parametrize(
    "accessor,tag,cached", ACCESSORS, ids=[a.__name__ for a, _, _ in ACCESSORS]
)
def test_accessor_routes_through_registry(spark, accessor, tag, cached):
    evict_session_relations(spark)
    key = (spark.sparkContext.applicationId, SMALL, tag)
    value = cached(accessor(spark, SMALL))
    assert session._SESSION_RELATIONS[key][1] is value
    assert cached(accessor(spark, SMALL)) is value  # a hit
    evict_session_relations(spark)
    assert session._SESSION_RELATIONS == {}


def test_registry_holds_one_entry_per_accessor(spark):
    evict_session_relations(spark)
    for accessor, _, _ in ACCESSORS:
        accessor(spark, SMALL)
    app = spark.sparkContext.applicationId
    assert set(session._SESSION_RELATIONS) == {(app, SMALL, t) for _, t, _ in ACCESSORS}
    evict_session_relations(spark)
    assert session._SESSION_RELATIONS == {}


def test_pq_codes_evicted_and_rebuilt_on_rewrite(spark, tmp_path):
    """The PQ codes are a session relation like every other: eviction
    unpersists them, and rewriting the embeddings table makes the next
    ``pq_encode`` build a new relation instead of serving stale codes."""
    sf = str(tmp_path)
    src, dst = table_path(SMALL, "embeddings"), table_path(sf, "embeddings")
    shutil.copyfile(src, dst)

    codes, _ = similarity.pq_encode(spark, sf)
    codes_id = _checkpoint_rdd_id(codes)
    assert similarity.pq_encode(spark, sf)[0] is codes
    assert codes_id in _persisted(spark)
    evict_session_relations(spark)
    assert codes_id not in _persisted(spark)

    before, _ = similarity.pq_encode(spark, sf)
    assert before is not codes
    shutil.copyfile(src, dst)  # rewrite in place: same rows, new file
    st = os.stat(dst)
    os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    after, _ = similarity.pq_encode(spark, sf)
    assert after is not before
    assert _checkpoint_rdd_id(before) not in _persisted(spark)
    assert after.count() == spark.read.parquet(dst).count() * similarity._PQ_M
    evict_session_relations(spark)
