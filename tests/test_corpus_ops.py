"""Corpus-hygiene operators: semantic invariants beyond the generic
oracle parity test (tests/test_relational.py covers every registered
query's DuckDB oracle; these pin the properties the oracles can't)."""

from __future__ import annotations

from pyspark.sql import functions as F

from my_mapreduce_spark.queries.corpus_ops import (
    q_decontaminate,
    q_dup_ngram_fraction,
    q_pii_scrub,
)
from tests.conftest import SF_DIR


def test_pii_scrub_removes_all_planted_pii(spark):
    # every doc gets exactly one email, one phone, one IP planted —
    # the scrubber must find all three
    out = q_pii_scrub(spark, SF_DIR)
    bad = out.where((F.col("n_email") != 1) | (F.col("n_phone") != 1)
                    | (F.col("n_ip") != 1))
    assert bad.count() == 0


def test_dup_ngram_fraction_bounds(spark):
    out = q_dup_ngram_fraction(spark, SF_DIR)
    assert out.where((F.col("shared_frac") < 0) | (F.col("shared_frac") > 1)
                     | (F.col("n_shared") > F.col("n_shingles"))).count() == 0


def test_decontaminate_excludes_benchmark_docs(spark):
    # the benchmark docs themselves must never be flagged
    out = q_decontaminate(spark, SF_DIR)
    assert out.where(F.col("doc_id") % 97 == 0).count() == 0


def test_clusters_pointer_jumping_matches_diameter_walk(spark):
    # both CC variants must emit identical (doc_id, cluster_id) labels
    from my_mapreduce_spark.queries.dedup import (
        q_dedup_clusters,
        q_dedup_clusters_pj,
    )

    a = {(r.doc_id, r.cluster_id) for r in q_dedup_clusters(spark, SF_DIR).collect()}
    b = {(r.doc_id, r.cluster_id)
         for r in q_dedup_clusters_pj(spark, SF_DIR).collect()}
    assert a == b


def _path_pairs(spark):
    """A path graph 0 - 1 - ... - 24: one component, diameter 24."""
    return spark.createDataFrame([(i, i + 1) for i in range(24)],
                                 "doc_a long, doc_b long")


def test_min_label_cc_raises_at_round_cap(spark):
    # min-label needs diameter + 1 = 25 rounds on the path, more than
    # the round cap: the routine must raise, not return wrong labels
    import pytest

    from my_mapreduce_spark.queries.dedup import min_label_cc

    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_cc(spark, _path_pairs(spark))


def test_min_label_cc_pointer_jump_converges_on_long_path(spark):
    from my_mapreduce_spark.queries.dedup import (_pointer_jump_step,
                                                  min_label_cc)

    labels = min_label_cc(spark, _path_pairs(spark), _pointer_jump_step)
    assert {(r.doc_id, r.cluster_id) for r in labels.collect()} == {
        (i, 0) for i in range(25)}


def test_winnowing_shared_run_shares_fingerprint(spark):
    # the winnowing guarantee: two docs sharing a run of >= 6 tokens
    # (i.e. >= 4 consecutive shingles, one full window) share at
    # least one fingerprint. Construct the pair directly.
    from pyspark.sql import Window

    from my_mapreduce_spark.functions.text import shingles, tokens

    common = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    df = spark.createDataFrame(
        [(1, f"one two three {common} four five six"),
         (2, f"{common} seven eight nine ten eleven")],
        "doc_id int, text string")
    withw = df.select("doc_id", tokens().alias("w"))
    sh = withw.select(
        "doc_id", (F.size("w") - 2).alias("n_sh"),
        F.posexplode(shingles(F.col("w"))).alias("pos", "sh"),
    ).select("doc_id", "n_sh", "pos", F.md5("sh").alias("h"))
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    fps = (sh.withColumn("fp", F.min("h").over(win))
           .where(F.col("pos") <= F.col("n_sh") - 4)
           .select("doc_id", "fp").distinct())
    a = {r.fp for r in fps.where("doc_id = 1").collect()}
    b = {r.fp for r in fps.where("doc_id = 2").collect()}
    assert a & b, "winnowing must fingerprint a shared 6-token run"


def test_pack_bucket_width_bounds_second_level():
    # the bucket-totals relation (n // width rows) must stay under the
    # 65k target at ANY corpus size — this is the 100 TB contract
    from my_mapreduce_spark.queries.corpus_ops import (
        _PACK_L2_TARGET,
        _pack_bucket_width,
    )

    for n in (0, 1, 999, 65_536, 10**6, 10**9, 10**12, 10**14):
        w = _pack_bucket_width(n)
        assert w >= 1000
        assert n // w <= _PACK_L2_TARGET, (n, w)
    # a trillion docs: width ~15.3M, second level exactly at the cap
    assert _pack_bucket_width(10**12) == -(-10**12 // 65_536)


def test_pack_sequences_width_invariant(spark, monkeypatch):
    # pack assignment is a pure function of the doc_id-ordered token
    # stream — the bucket width is an execution detail and must not
    # leak into results
    from my_mapreduce_spark.queries.corpus_ops import q_pack_sequences

    def run(width):
        if width:
            monkeypatch.setenv("SPARK_GRAFT_PACK_WIDTH", str(width))
        else:
            monkeypatch.delenv("SPARK_GRAFT_PACK_WIDTH", raising=False)
        return {tuple(r) for r in q_pack_sequences(spark, SF_DIR).collect()}

    base = run(0)  # corpus-derived width
    assert base == run(7)
    assert base == run(100_000)  # one bucket: degenerate single-level
