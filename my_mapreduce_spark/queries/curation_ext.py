"""Dataset-curation depth: label-noise screening, diversity
re-ranking, and budgeted source allocation — round-4 continuation
batch (SURVEY §2D training-data-pipeline tier).

- ``q_label_noise_screen``: per-label centroid-distance outlier
  audit over the embedding table — the cheap first pass of
  Confident-Learning-style label cleaning, EXACT via integer-scaled
  coordinates (no float accumulation anywhere).
- ``q_mmr_diversify``: Maximal Marginal Relevance (Carbonell &
  Goldstein 1998) top-5 selection from each query's cosine top-20 —
  the diversity-aware re-ranker used for dedup-aware retrieval and
  for picking representative documents out of a near-dup cluster.
  The greedy loop is UNROLLED into 5 deterministic rank steps over
  query-bounded relations, so the exact semantics are expressible
  on both engines (the same iteration-unrolling trick as the
  pagerank oracle).
- ``q_mixture_budget_alloc``: greedy quality-first source
  allocation under a global token budget — "fill the training mix
  from the richest sources until the budget runs out", the
  budgeted counterpart of q_dataset_mixture's fixed proportions.

Scale shape (100 TB): the noise screen is two corpus-linear
hash-aggs over (label, dim) keys — d-bounded shuffles; MMR runs
entirely on broadcast query×top-k relations after the audited
top-k scorer; the allocator's window runs over the source-bounded
relation (|sources|, not data). Reference parity: none —
north-star §2D curation depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_mapreduce_spark.io import load_table
from my_mapreduce_spark.registry import register, register_audit_plan

_NOISE_SCALE = 1000          # coordinate -> floor(x*1000): exact bigints
_MMR_LAMBDA = 0.7            # relevance weight; 1-lambda penalizes redundancy
_MMR_CAND = 20               # candidate pool per query (cosine top-20)
_MMR_K = 5                   # picks per query
_ALLOC_BUDGET_SHARE = 0.4    # fraction of total corpus chars to fill


@register(
    "q_label_noise_screen",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) > 0),
    x AS (
        SELECT vec_id, label, pos,
               CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * {_NOISE_SCALE})
                    AS BIGINT) AS xi
        FROM e, UNNEST(range(1, len(embedding) + 1)) AS t(pos)),
    n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY label),
    s AS (SELECT label, pos, CAST(SUM(xi) AS BIGINT) AS s
          FROM x GROUP BY 1, 2),
    d AS (
        SELECT x.vec_id, x.label,
               CAST(SUM((n.n * xi - s.s) * (n.n * xi - s.s)) AS BIGINT) AS d2
        FROM x JOIN s ON x.label = s.label AND x.pos = s.pos
               JOIN n ON x.label = n.label
        GROUP BY 1, 2),
    t AS (SELECT label, CAST(SUM(d2) AS BIGINT) AS tot FROM d GROUP BY label)
    SELECT d.label, n.n,
           CAST(SUM(CASE WHEN n.n * d.d2 > 4 * t.tot THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           ROUND(SQRT(t.tot * 1.0 / (n.n * n.n * n.n)) / {_NOISE_SCALE}, 6)
               AS rms_dist
    FROM d JOIN t ON d.label = t.label JOIN n ON d.label = n.label
    GROUP BY d.label, n.n, t.tot
    """,
    tags=("curation", "label-noise", "embedding", "outlier"),
)
def q_label_noise_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen: for each label, count the embeddings
    whose distance to their OWN label centroid exceeds 2x the
    label's RMS distance — the points most likely mislabeled (their
    vector sits far from the class it claims), the cheap first pass
    a Confident-Learning pipeline runs before any model-based
    cleaning.

    Exactness: coordinates are integer-scaled (floor(x*1000)), and
    with s = per-dim label sum, n = label count, each point's
    squared centroid distance scales to the exact bigint
    d2 = sum_dims (n*x - s)^2 (= n^2 * dist^2); the 2x-RMS flag
    becomes the exact integer comparison n*d2 > 4*sum(d2) — no
    float enters until the display column. (At petabyte label
    sizes the bigint headroom shrinks as n^2; production would
    bucket to DECIMAL(38) or double — documented seam, exact at
    every fixture SF.)

    Plan: one posexplode -> (label, dim)-keyed hash-agg for
    centroid sums (d-bounded shuffle), join back (broadcast: the
    (label x dim) relation is tiny), per-point hash-agg, per-label
    finishing — corpus-linear, two shuffles, no windows.
    """
    emb = (load_table(spark, sf_dir, "embeddings")
           .where(F.col("embedding").isNotNull()
                  & (F.size("embedding") > 0))
           .select("vec_id", "label", "embedding"))
    x = (emb.select("vec_id", "label",
                    F.posexplode("embedding").alias("pos0", "xf"))
         .select("vec_id", "label", (F.col("pos0") + 1).alias("pos"),
                 F.floor(F.col("xf").cast("double") * _NOISE_SCALE)
                 .alias("xi")))
    n = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    s = x.groupBy("label", "pos").agg(F.sum("xi").alias("s"))
    term = F.col("n") * F.col("xi") - F.col("s")
    d = (x.join(F.broadcast(s), ["label", "pos"])
         .join(F.broadcast(n), "label")
         .groupBy("vec_id", "label")
         .agg(F.sum(term * term).alias("d2")))
    t = d.groupBy("label").agg(F.sum("d2").alias("tot"))
    return (d.join(F.broadcast(t), "label").join(F.broadcast(n), "label")
            .groupBy("label", "n", "tot")
            .agg(F.sum(F.when(F.col("n") * F.col("d2")
                              > 4 * F.col("tot"), 1).otherwise(0))
                 .alias("n_flagged"))
            .select("label", "n", "n_flagged",
                    F.round(F.sqrt(F.col("tot") * 1.0
                                   / (F.col("n") * F.col("n") * F.col("n")))
                            / _NOISE_SCALE, 6).alias("rms_dist")))


def _mmr_oracle() -> str:
    """Unrolled-greedy MMR oracle (the pagerank iteration-unrolling
    trick): 5 chained argmax steps over the query-bounded candidate
    relation. Scores live in exact integer tenth-micro units
    (7*rel6 - 3*ms6 with rel6/ms6 = 6dp cosines x 1e6), so ranking
    and the displayed score never round a float composite — the
    1-ulp ROUND() divergence class cannot fire."""
    steps = []
    for i in range(2, _MMR_K + 1):
        p = i - 1
        steps.append(f""",
    rem{i} AS (
        SELECT c.query_id, c.vec_id, c.rel6 FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM sel{p} s
                          WHERE s.query_id = c.query_id
                            AND s.vec_id = c.vec_id)),
    sim{i} AS (
        SELECT r.query_id, r.vec_id, r.rel6,
               CAST(MAX(cc.cos6) AS BIGINT) AS ms6
        FROM rem{i} r JOIN sel{p} s ON s.query_id = r.query_id
             JOIN cc ON cc.query_id = r.query_id
                    AND cc.a = r.vec_id AND cc.b = s.vec_id
        GROUP BY 1, 2, 3),
    pick{i} AS (
        SELECT query_id, vec_id, {i} AS pick_rank,
               (7 * rel6 - 3 * ms6) / 10000000.0 AS mmr_score
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id
                  ORDER BY 7 * rel6 - 3 * ms6 DESC, vec_id) AS rnk
              FROM sim{i})
        WHERE rnk = 1),
    sel{i} AS (SELECT query_id, vec_id FROM sel{p}
               UNION ALL SELECT query_id, vec_id FROM pick{i})""")
    picks = " UNION ALL ".join(
        ["SELECT query_id, vec_id, pick_rank, mmr_score FROM pick1"]
        + [f"SELECT query_id, vec_id, pick_rank, mmr_score FROM pick{i}"
           for i in range(2, _MMR_K + 1)])
    return f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    nr AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT * FROM nr WHERE vec_id % 100 = 0),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id, c.v,
               CAST(ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm)
                          * 1000000) AS BIGINT) AS rel6
        FROM q JOIN nr c ON q.vec_id <> c.vec_id),
    cand AS (
        SELECT query_id, vec_id, v, rel6 FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rel6 DESC, vec_id) AS rnk
            FROM scored)
        WHERE rnk <= {_MMR_CAND}),
    cc AS (
        SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
               CAST(ROUND(list_dot_product(a.v, b.v)
                          / (sqrt(list_dot_product(a.v, a.v))
                             * sqrt(list_dot_product(b.v, b.v)))
                          * 1000000) AS BIGINT) AS cos6
        FROM cand a JOIN cand b
             ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
    pick1 AS (
        SELECT query_id, vec_id, 1 AS pick_rank,
               rel6 / 1000000.0 AS mmr_score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY rel6 DESC, vec_id) AS rnk
              FROM cand)
        WHERE rnk = 1),
    sel1 AS (SELECT query_id, vec_id FROM pick1){"".join(steps)}
    SELECT query_id, vec_id, CAST(pick_rank AS BIGINT) AS pick_rank,
           mmr_score
    FROM ({picks})
    """


@register(
    "q_mmr_diversify",
    oracle=_mmr_oracle(),
    tags=("curation", "retrieval", "mmr", "diversity", "rerank"),
)
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: from each query's
    cosine top-20, greedily pick 5 results maximizing
    0.7*relevance - 0.3*max-similarity-to-already-picked — the
    classic redundancy-penalized selection (Carbonell & Goldstein
    1998) that keeps a near-dup cluster from monopolizing a result
    page, and that corpus curation reuses to pick DIVERSE exemplars
    per topic. Greedy selection is inherently sequential, but its
    depth is the OUTPUT size k=5 and its scope is ONE query's
    candidate pool — so each query's greedy runs independently in
    an Arrow-batched applyInPandas over its 20 candidates
    (embarrassingly parallel across queries), while the DuckDB
    oracle unrolls the same 5 steps into chained argmax CTEs (the
    pagerank-oracle unrolling trick). Cosines are 6dp-rounded into
    exact integer micro-units, so the composite score
    7*rel6 - 3*ms6 is an exact int64 — every argmax ranks integers
    (ties by vec_id) and the displayed score is one final division,
    leaving no float-rounding seam for engines to disagree on.
    (A first cut built the 5 steps as chained DataFrame anti-joins;
    correct, but 4 rounds of tiny-relation shuffles cost 10.5 s at
    sf0.1 in stage overhead vs ~2 s for this single-exchange plan.)

    Plan: the only corpus-sized work is the audited broadcast
    top-20 scorer (q_knn_bruteforce shape); the greedy shuffles
    |queries| x 20 rows once. At 100 TB the candidate generator
    swaps for the IVF/PQ shortlist exactly as in
    q_retrieval_recall_mrr — MMR itself is scorer-agnostic.
    """
    from my_mapreduce_spark.queries.similarity import _dot, _normed

    import numpy as np
    import pandas as pd

    e = _normed(load_table(spark, sf_dir, "embeddings"))
    q = e.where(F.expr("vec_id % 100 = 0")).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"))
    rel6 = F.round(_dot(F.col("qv"), F.col("v"))
                   / (F.col("qnrm") * F.col("nrm"))
                   * 1000000).cast("bigint")
    w = Window.partitionBy("query_id").orderBy(F.col("rel6").desc(),
                                               "vec_id")
    cand = (e.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
            .select("query_id", "vec_id", "v", rel6.alias("rel6"))
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _MMR_CAND)
            .select("query_id", "vec_id", "v", "rel6"))

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["vec_id"]).reset_index(drop=True)
        vm = np.stack(pdf["v"].to_numpy())
        dots = vm @ vm.T
        nrm = np.sqrt(np.diag(dots))
        cos6 = np.round(dots / np.outer(nrm, nrm) * 1e6).astype(np.int64)
        rel = pdf["rel6"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        n = len(pdf)
        # step 1: pure relevance argmax (ties by vec_id: ids sorted)
        first = int(np.lexsort((ids, -rel))[0])
        selected = [first]
        rows = [(int(pdf["query_id"].iloc[0]), int(ids[first]), 1,
                 rel[first] / 1e6)]
        for step in range(2, min(_MMR_K, n) + 1):
            mask = np.ones(n, bool)
            mask[selected] = False
            ms6 = cos6[:, selected].max(axis=1)
            score = 7 * rel - 3 * ms6
            # sentinel must stay negatable (lexsort uses -score;
            # -int64.min wraps back to itself and would sort FIRST)
            score[~mask] = -(10 ** 15)
            pick = int(np.lexsort((ids, -score))[0])
            selected.append(pick)
            rows.append((int(pdf["query_id"].iloc[0]), int(ids[pick]),
                         step, score[pick] / 1e7))
        return pd.DataFrame(rows, columns=["query_id", "vec_id",
                                           "pick_rank", "mmr_score"])

    return cand.groupBy("query_id").applyInPandas(
        greedy,
        "query_id long, vec_id long, pick_rank long, mmr_score double")


@register(
    "q_mixture_budget_alloc",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS ws
        FROM documents),
    tok AS (SELECT source, UNNEST(ws) AS w FROM t),
    wc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY 1, 2),
    rich AS (
        SELECT source,
               ROUND(COUNT(*) * 1.0 / SUM(c), 6) AS ttr
        FROM wc GROUP BY source),
    sz AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
           FROM documents GROUP BY source),
    budget AS (
        SELECT CAST(FLOOR(SUM(chars) * {_ALLOC_BUDGET_SHARE}) AS BIGINT)
            AS b FROM sz),
    ranked AS (
        SELECT sz.source, sz.chars, rich.ttr,
               ROW_NUMBER() OVER (ORDER BY rich.ttr DESC, sz.source)
                   AS quality_rank,
               COALESCE(SUM(sz.chars) OVER (
                   ORDER BY rich.ttr DESC, sz.source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM sz JOIN rich USING (source))
    SELECT source, CAST(quality_rank AS BIGINT) AS quality_rank, ttr, chars,
           CAST(GREATEST(LEAST(chars, b - cum_before), 0) AS BIGINT)
               AS alloc_chars
    FROM ranked CROSS JOIN budget
    """,
    tags=("curation", "mixture", "budget", "allocation"),
)
def q_mixture_budget_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted quality-first mixture allocation: rank sources by
    lexical richness (type-token ratio — the q_lexical_richness
    signal), then fill a global char budget (40% of the corpus)
    greedily from the richest source down, truncating the source
    that straddles the boundary — "spend the training budget on the
    best data first", the budget-constrained counterpart of
    q_dataset_mixture's fixed target shares. alloc_chars is the
    exact integer water-filling allocation: min(source size,
    remaining budget), floored at zero.

    Plan: one token scan for TTR (vocabulary-bounded aggs), one
    n_chars aggregate, then ALL allocation logic — rank, running
    sum, clamp — runs on the |sources|-row relation, so the global
    window is source-bounded (documented in the audit whitelist),
    never data-sized; the 1-row budget broadcasts (scalar-subquery
    shape). At 100 TB the mix planner's cost is the two scans; the
    plan itself is O(sources).
    """
    docs = load_table(spark, sf_dir, "documents")
    from my_mapreduce_spark.functions.text import tokens

    wc = (docs.select("source", F.explode(tokens()).alias("w"))
          .groupBy("source", "w").agg(F.count(F.lit(1)).alias("c")))
    rich = wc.groupBy("source").agg(
        F.round(F.count(F.lit(1)) * 1.0 / F.sum("c"), 6).alias("ttr"))
    sz = docs.groupBy("source").agg(F.sum("n_chars").alias("chars"))
    budget = sz.agg(F.floor(F.sum("chars") * _ALLOC_BUDGET_SHARE)
                    .cast("bigint").alias("b"))
    w = Window.orderBy(F.col("ttr").desc(), "source")
    ranked = (sz.join(rich, "source")
              .select("source", "chars", "ttr",
                      F.row_number().over(w).cast("bigint")
                      .alias("quality_rank"),
                      F.coalesce(
                          F.sum("chars").over(
                              w.rowsBetween(Window.unboundedPreceding, -1)),
                          F.lit(0)).alias("cum_before")))
    return (ranked.crossJoin(F.broadcast(budget))
            .select("source", "quality_rank", "ttr", "chars",
                    F.greatest(
                        F.least(F.col("chars"),
                                F.col("b") - F.col("cum_before")),
                        F.lit(0)).cast("bigint").alias("alloc_chars")))


@register(
    "q_interleave_sources",
    oracle="""
    WITH r AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS within_rank
        FROM documents)
    SELECT doc_id, source, within_rank,
           ROW_NUMBER() OVER (ORDER BY within_rank, source,
                              doc_id) AS global_pos
    FROM r
    """,
    tags=("curation", "training-order", "interleave", "sampling"),
)
def q_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TRAINING-ORDER construction: shuffle each source
    internally (md5 rank — a fixed random permutation, reproducible
    across engines and cluster sizes), then interleave sources
    round-robin (order by (within_rank, source)) and assign the
    global position every data loader shards on. Round-robin
    interleave is how a mixture actually reaches the model evenly —
    sampling rates (q_dataset_mixture) decide HOW MUCH of each
    source, this decides WHEN, so no epoch window is ever
    single-source.

    The within-source shuffle is one rank window per source
    partition; the GLOBAL position uses the two-pass distributed
    row number (range-repartition + per-partition rank + broadcast
    prefix offsets — functions/ranking.py), never a data-sized
    single-partition window. The oracle states the same order with
    plain ROW_NUMBERs; (within_rank, source, doc_id) is a total
    order, so both engines agree bit-for-bit.
    """
    from my_mapreduce_spark.functions.ranking import distributed_row_number

    docs = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("source")
         .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
    r = (docs.select("doc_id", "source")
         .withColumn("within_rank", F.row_number().over(w)))
    return distributed_row_number(
        r, [F.col("within_rank"), F.col("source"), F.col("doc_id")],
        out="global_pos")


# ---------------------------------------------------------------------------
# The curation ENDGAME: the full pre-training corpus funnel in one
# oracle-gated query (round-10 verdict item 4)
# ---------------------------------------------------------------------------

_ENDGAME_ORACLE = """
    WITH RECURSIVE
    tok AS (
        SELECT doc_id, lang, source, n_chars, text,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    f AS (
        SELECT doc_id, lang, source, n_chars, text, w,
               LEAST(n_chars, 400) AS nc, len(w) AS nw,
               len(list_filter(w, x -> list_contains(
                   ['the','a','of','to','and','in','is'], x))) AS ns,
               len(list_distinct(w)) AS nd
        FROM tok),
    q AS (
        SELECT doc_id, lang, source, n_chars, text, w FROM f
        WHERE nw >= 3 AND 4*nc*nw + 1200*(ns+nd) >= 2000*nw),
    d AS (
        SELECT doc_id, lang, source, n_chars, w FROM q
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY md5(trim(regexp_replace(regexp_replace(
                lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
            ORDER BY doc_id) = 1),
    s AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        FROM d, UNNEST(range(1, len(w) - 1)) AS u(i)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    near AS (
        SELECT doc_a, doc_b FROM pairs
        JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
        WHERE n_common / (x.n + y.n - n_common) >= 0.6),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM near
              UNION SELECT doc_b, doc_a FROM near),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.dst, r.r FROM edges e JOIN reach r ON e.src = r.doc_id),
    labels AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
    memb AS (SELECT l.cluster_id, l.doc_id, d.n_chars
             FROM labels l JOIN d USING (doc_id)),
    removed AS (
        SELECT doc_id FROM memb
        QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id) > 1)
    SELECT doc_id, lang, source, n_chars FROM d
    WHERE doc_id NOT IN (SELECT doc_id FROM removed)
      AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
    """


def quality_pass(docs: DataFrame) -> DataFrame:
    """Stage 1 of the endgame, reusable (the streaming ingest twin
    applies it per micro-batch): the exact-integer quality filter —
    composite >= 0.5, the q_quality_score rational with no float
    anywhere (qual_p >= 2000*nw) — plus the nw >= 3 shingle floor.
    Returns (doc_id, lang, source, n_chars, text)."""
    from my_mapreduce_spark.functions.text import tokens

    w = tokens()
    stops = F.array(*[F.lit(s) for s in
                      ("the", "a", "of", "to", "and", "in", "is")])
    feat = docs.select(
        "doc_id", "lang", "source", "n_chars", "text",
        F.least(F.col("n_chars"), F.lit(400)).alias("nc"),
        F.size(w).alias("nw"),
        F.size(F.filter(w, lambda x: F.array_contains(stops, x))).alias("ns"),
        F.size(F.array_distinct(w)).alias("nd"))
    return (feat.where((F.col("nw") >= 3)
                       & (4 * F.col("nc") * F.col("nw")
                          + 1200 * (F.col("ns") + F.col("nd"))
                          >= 2000 * F.col("nw")))
            .select("doc_id", "lang", "source", "n_chars", "text"))


def norm_hash_col():
    """The canonical content hash stage 2 dedups on (shared with
    q_dedup_normalized_exact and the streaming ingest)."""
    return F.md5(F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " ")))


def _endgame_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stages 1-2 of the endgame: quality_pass then normalized-exact
    dedup keeping the smallest doc_id per canonical hash. One scan,
    one content-hash window shuffle."""
    q = quality_pass(load_table(spark, sf_dir, "documents"))
    win = Window.partitionBy(norm_hash_col()).orderBy("doc_id")
    return (q.withColumn("rn", F.row_number().over(win))
            .where(F.col("rn") == 1)
            .select("doc_id", "lang", "source", "n_chars", "text"))


_ENDGAME_SAMPLE = ("0", "1", "2", "3")  # 25% deterministic hash sample


def _endgame_tail(d: DataFrame, removed: DataFrame) -> DataFrame:
    """Stages 4-5: drop cluster non-representatives, then the
    deterministic per-doc hash sample (uniform rate, so every lang /
    source stratum is sampled at the same 25% — the auditable
    train-split contract of q_sample_stratified)."""
    sampled = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) \
        .isin(*_ENDGAME_SAMPLE)
    return (d.join(removed, "doc_id", "left_anti")
            .where(sampled)
            .select("doc_id", "lang", "source", "n_chars"))


def _endgame_removed(d: DataFrame, labels: DataFrame) -> DataFrame:
    """Stage 4's removal set: inside each near-dup cluster keep the
    longest doc (ties to smallest doc_id) — everything ranked below
    the representative is removed. The window input is
    clustered-docs-only (pairs-bounded, never corpus-bounded)."""
    memb = labels.join(d.select("doc_id", "n_chars"), "doc_id")
    wc = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id")
    return (memb.withColumn("rn", F.row_number().over(wc))
            .where(F.col("rn") > 1).select("doc_id"))


@register(
    "q_curation_endgame",
    oracle=_ENDGAME_ORACLE,
    tags=("curation", "pipeline", "e2e", "dedup", "quality",
          "sampling", "funnel"),
)
def q_curation_endgame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-corpus curation pipeline END-TO-END, emitting the
    final training-set rows: quality filter (exact-integer composite
    >= 0.5) -> normalized exact dedup (keep smallest doc_id) ->
    near-dup collapse (exact Jaccard >= 0.6 clusters via the
    LOSSLESS ppjoin generator + min-label CC, keep each cluster's
    longest doc) -> deterministic 25% stratified hash sample. Every
    stage is the production operator it names
    (q_quality_score's rational, q_dedup_normalized_exact's hash,
    exact_jaccard_pairs' prefix+positional+suffix funnel,
    min_label_cc (q_dedup_clusters' fixpoint), q_dedup_cluster_reps'
    window, q_sample_stratified's hash predicate) — this query is the proof
    they CHAIN: the DuckDB oracle recomputes the whole funnel
    including the recursive-CTE fixpoint and must match the final
    row set bit-for-bit, not just the counts.

    Scale shape (100 TB): stages 1-2 are one scan + one content-hash
    window shuffle; stage 3's pair join runs ONLY over stage-2
    survivors through the lossless ppjoin funnel (never all-pairs,
    never broadcast of array relations — merge-hinted, the 30x-tier
    OOM lesson); the CC loop shuffles a pairs-graph-sized relation
    with one scalar read per round; stages 4-5 are a
    clusters-bounded window and a join-free filter. Sample-rate
    changes touch ONE tuple (_ENDGAME_SAMPLE)."""
    from my_mapreduce_spark.queries.dedup import (exact_jaccard_pairs,
                                                  min_label_cc)

    d = _endgame_survivors(spark, sf_dir).persist()
    pairs, sets = exact_jaccard_pairs(spark, sf_dir, docs=d)
    # once min_label_cc has checkpointed its edges, the shingle cache
    # is dead weight
    labels = min_label_cc(spark, pairs, release=(sets,))
    return _endgame_tail(d, _endgame_removed(d, labels))


@register_audit_plan(
    "q_curation_endgame",
    note="the full funnel as ONE declarative DAG with the CC loop "
         "replaced by its first propagation round (labels relation "
         "identically shaped to the converged fixpoint — the loop "
         "itself is audited via q_dedup_clusters' round-1 builder): "
         "quality filter + dedup window + ppjoin pair generation + "
         "representative window + anti-join + hash sample, so the "
         "executed-AQE pass shows the stage-by-stage row collapse.")
def _q_curation_endgame_audit(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from my_mapreduce_spark.queries.dedup import (_cc_edges, _cc_seed,
                                                  _min_label_step,
                                                  exact_jaccard_pairs)

    d = _endgame_survivors(spark, sf_dir)
    pairs, _sets = exact_jaccard_pairs(spark, sf_dir, docs=d)
    edges = _cc_edges(pairs)
    labels = _min_label_step(edges, _cc_seed(edges)).drop("chg")
    return _endgame_tail(d, _endgame_removed(d, labels))
