"""Corpus-quality operators a pretraining data pipeline runs before
training: repetition scoring (the Gopher/MassiveText signal family) and
benchmark-contamination detection (n-gram overlap against an eval set).

Scale posture: repetition is explode → per-doc hash aggregate (one
shuffle on doc_id); contamination joins the corpus' shingles against the
DISTINCT shingles of a benchmark set that is tiny by construction
(eval suites are thousands of docs, the corpus is billions), so Spark
broadcasts it and the scan-side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import bigrams, ngrams, tokens
from ._util import dec, epoch_s, t
from .registry import query

# Repetition flags (Gopher-style): a doc is repetitive when its most
# frequent bigram covers >20% of all bigram positions, or when fewer than
# 30% of its tokens are distinct.
TOP_BIGRAM_FRAC_MAX = 0.2
DISTINCT_TOKEN_FRAC_MIN = 0.3

# Contamination shingle width. Real decontamination uses 8-13 token
# shingles; the fixture's ~40-word vocabulary makes 8-grams vanishingly
# rare across docs (0 hits at sf0.01), so 4 marks genuine reuse here —
# the knob, not the shape, changes at production vocabulary sizes.
CONTAM_NGRAM = 4
# Synthetic "benchmark" set: every 100th doc stands in for an eval suite.
BENCH_MOD = 100


@query(
    "q_text_repetition",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
    ), grams AS (
        SELECT doc_id, g, COUNT(*) AS c FROM (
            SELECT doc_id,
                   UNNEST(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS g
            FROM toks)
        GROUP BY doc_id, g
    ), rep AS (
        SELECT doc_id, MAX(c) AS top_bigram, SUM(c) AS n_bigrams
        FROM grams GROUP BY doc_id
    )
    SELECT t.doc_id, t.lang,
           len(tk) AS n_tokens,
           ROUND(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) AS distinct_token_frac,
           ROUND(CAST(r.top_bigram AS DOUBLE) / r.n_bigrams, 6) AS top_bigram_frac,
           (CAST(r.top_bigram AS DOUBLE) / r.n_bigrams <= {TOP_BIGRAM_FRAC_MAX}
            AND CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) >= {DISTINCT_TOKEN_FRAC_MIN})
               AS keep
    FROM toks t JOIN rep r ON t.doc_id = r.doc_id
    """,
    tags=("text", "quality", "repetition", "training-data"),
)
def q_text_repetition(spark, sf_dir):
    """Per-doc repetition signals: distinct-token fraction and the share of
    bigram positions taken by the single most frequent bigram, plus the
    keep/drop verdict at the Gopher-style thresholds.

    Zero-shuffle shape: the most-frequent-bigram count is the longest run
    in the doc's SORTED bigram array, computed by a single ``aggregate``
    fold per document — so the whole query is a narrow projection. The
    explode → groupBy(doc_id, gram) → groupBy(doc_id) → join formulation
    this replaced shuffled every bigram occurrence as a string row and
    measured 11× slower at sf0.1 (3.2s → 0.28s); per-doc state (a ~300-
    element array) never needs a distributed aggregate. Spread on doc_id
    only to parallelize the scan from a one-file input."""
    d = t(spark, sf_dir, "documents").repartition(32, "doc_id")
    tk = tokens("text")
    grams_sorted = F.array_sort(ngrams(tk, 2))
    # longest run of equal adjacent elements == max bigram frequency
    top_bigram = F.aggregate(
        grams_sorted,
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_frac = top_bigram.cast("double") / F.size(grams_sorted)
    dist_frac = F.round(F.size(F.array_distinct(tk)) / F.size(tk), 6)
    return d.select(
        "doc_id",
        "lang",
        F.size(tk).alias("n_tokens"),
        dist_frac.alias("distinct_token_frac"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
        ((top_frac <= TOP_BIGRAM_FRAC_MAX) & (dist_frac >= DISTINCT_TOKEN_FRAC_MIN)).alias(
            "keep"
        ),
    )


# Mixture composition: fraction of each source block to keep when
# assembling a training mix. Deterministic (no RNG): docs are ranked
# within their source by md5(doc_id) — a fixed pseudo-random order both
# engines compute identically — and each source keeps its quota.
MIX_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
MIX_DEFAULT_FRACTION = 0.1


@query(
    "q_mix_sources",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS n_src
        FROM documents
    ), quota AS (
        SELECT *,
               CAST(FLOOR(n_src * CASE source
                   WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25
                   ELSE {MIX_DEFAULT_FRACTION} END + 0.5) AS BIGINT) AS keep_n
        FROM ranked
    )
    SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS first_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM quota WHERE rk <= keep_n
    GROUP BY source
    """,
    tags=("text", "quality", "mixture", "training-data"),
)
def q_mix_sources(spark, sf_dir):
    """Training-mix composition: keep a per-source fraction of documents
    (upweighted sources keep more), chosen DETERMINISTICALLY by ranking
    docs within each source on md5(doc_id) — reproducible across engines
    and runs, unlike RNG sampling (q_sample_stratified covers the seeded-
    RNG flavor). One window over the source partitioning, no shuffle
    beyond it; the per-source summary makes the result compact."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    frac = F.when(F.col("source") == "src0", 1.0)
    for src, fr in list(MIX_FRACTIONS.items())[1:]:
        frac = frac.when(F.col("source") == src, fr)
    frac = frac.otherwise(MIX_DEFAULT_FRACTION)
    w = W.partitionBy("source")
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number()
        .over(w.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
        .alias("rk"),
        F.count("*").over(w).alias("n_src"),
        frac.alias("frac"),
    )
    kept = ranked.filter(
        F.col("rk") <= F.floor(F.col("n_src") * F.col("frac") + 0.5).cast("long")
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("first_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@query(
    "q_text_contamination",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), shingles AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   UNNEST(list_transform(range(1, len(tk) - {CONTAM_NGRAM - 2}),
                          i -> array_to_string(tk[i:i+{CONTAM_NGRAM - 1}], ' '))) AS g
            FROM toks WHERE len(tk) >= {CONTAM_NGRAM})
    ), bench AS (
        SELECT DISTINCT g FROM shingles WHERE doc_id % {BENCH_MOD} = 0
    )
    SELECT s.doc_id, COUNT(*) AS n_hits
    FROM shingles s JOIN bench b ON s.g = b.g
    WHERE s.doc_id % {BENCH_MOD} <> 0
    GROUP BY s.doc_id
    """,
    tags=("text", "quality", "contamination", "training-data"),
)
def q_text_contamination(spark, sf_dir):
    """Eval-set decontamination: corpus docs sharing any CONTAM_NGRAM-token shingle
    with the benchmark set (every 100th doc as a stand-in eval suite),
    with the count of distinct shared shingles. The benchmark's distinct
    shingles are broadcast — eval suites are tiny next to a pretraining
    corpus, so the corpus side never shuffles for the probe.

    Spread on doc_id before the shingle explode: a one-file input
    otherwise runs the whole tokenize+shingle scan in one task (the
    per-doc-id hash layout also feeds the final per-doc aggregate)."""
    d = t(spark, sf_dir, "documents").repartition(32, "doc_id")
    sh = d.select(
        "doc_id", F.explode(F.array_distinct(ngrams(tokens("text"), CONTAM_NGRAM))).alias("g")
    )
    bench = (
        sh.filter(F.col("doc_id") % BENCH_MOD == 0).select("g").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


# Drift-detection epsilon: zero-count categories would make the PSI
# log-ratio infinite, so shares are floored at 1e-6 (the standard PSI
# smoothing) before the log — identically in Spark and the oracle.
PSI_EPS = 1e-6
# Numeric-drift ECDF resolution: 100 equi-width bins over the observed
# value range. The binned KS statistic is exact at bin granularity and
# needs only a 100-row window — never a global sort of the input.
KS_BINS = 100

# Time-split fragment shared by the drift oracles: rows in the first
# half of the observed time range are snapshot 'a', the rest 'b'.
# Integer arithmetic ((ts - lo) * 2 < hi - lo) keeps the split exact in
# both engines — no double midpoint.
_DRIFT_SPLIT = """
    bounds AS (
        SELECT MIN({ts_s}) AS lo_t, MAX({ts_s}) AS hi_t FROM events
    ), tagged AS (
        SELECT e.*, CASE WHEN ({ts_s} - b.lo_t) * 2 < (b.hi_t - b.lo_t)
                         THEN 'a' ELSE 'b' END AS grp
        FROM events e CROSS JOIN bounds b
    )
"""


@query(
    "q_dq_drift_psi",
    oracle="WITH "
    + _DRIFT_SPLIT.format(ts_s="CAST(epoch(date_trunc('second', ts)) AS BIGINT)")
    + f"""
    , counts AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM tagged GROUP BY event_type
    ), shares AS (
        SELECT event_type, n_a, n_b,
               GREATEST(CAST(n_a AS DOUBLE) / SUM(n_a) OVER (), {PSI_EPS}) AS p_a,
               GREATEST(CAST(n_b AS DOUBLE) / SUM(n_b) OVER (), {PSI_EPS}) AS p_b
        FROM counts
    ), terms AS (
        SELECT event_type, n_a, n_b,
               ROUND(p_a, 6) AS share_a, ROUND(p_b, 6) AS share_b,
               ROUND((p_a - p_b) * LN(p_a / p_b), 6) AS psi_term
        FROM shares
    )
    SELECT event_type, n_a, n_b, share_a, share_b, psi_term,
           CAST(SUM(CAST(psi_term AS DECIMAL(18,6))) OVER () AS DOUBLE) AS psi_total
    FROM terms
    """,
    tags=("dq", "drift", "psi", "data-quality"),
)
def q_dq_drift_psi(spark, sf_dir):
    """Categorical distribution drift between two time snapshots of the
    event stream, scored as Population Stability Index: split the stream
    at the midpoint of its time range, compare per-category shares, and
    sum ``(p_a - p_b) * ln(p_a / p_b)`` over categories (PSI > 0.2 is
    the conventional "significant drift" alarm). This is the monitoring
    primitive a training-data pipeline runs between ingest snapshots to
    catch source-mix shifts before they poison a training run.

    Scale shape: ONE hash aggregate on the category key produces both
    snapshots' counts (conditional aggregation — no second scan, no
    join of two halves); the bounds side-input is a 1-row broadcast
    cross join, and every window after the aggregate runs over
    |categories| rows, which is driver-size for any real corpus. The
    per-term decimal cast makes the PSI total order-independent.
    """
    ev = t(spark, sf_dir, "events")
    ts_s = epoch_s("ts")
    bounds = ev.agg(F.min(ts_s).alias("lo_t"), F.max(ts_s).alias("hi_t"))
    tagged = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "grp",
        F.when((ts_s - F.col("lo_t")) * 2 < F.col("hi_t") - F.col("lo_t"), "a")
        .otherwise("b"),
    )
    counts = tagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("grp") == "a", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("grp") == "b", 1).otherwise(0)).alias("n_b"),
    )
    w_all = W.partitionBy()
    shares = counts.select(
        "event_type",
        "n_a",
        "n_b",
        F.greatest(F.col("n_a") / F.sum("n_a").over(w_all), F.lit(PSI_EPS)).alias("p_a"),
        F.greatest(F.col("n_b") / F.sum("n_b").over(w_all), F.lit(PSI_EPS)).alias("p_b"),
    )
    terms = shares.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("p_a", 6).alias("share_a"),
        F.round("p_b", 6).alias("share_b"),
        F.round((F.col("p_a") - F.col("p_b")) * F.log(F.col("p_a") / F.col("p_b")), 6).alias(
            "psi_term"
        ),
    )
    return terms.withColumn(
        "psi_total",
        F.sum(F.col("psi_term").cast("decimal(18,6)")).over(w_all).cast("double"),
    )


@query(
    "q_dq_drift_ks",
    oracle="WITH "
    + _DRIFT_SPLIT.format(ts_s="CAST(epoch(date_trunc('second', ts)) AS BIGINT)")
    + f"""
    , vals AS (
        SELECT grp, value,
               MIN(value) OVER () AS lo_v, MAX(value) OVER () AS hi_v
        FROM tagged WHERE value IS NOT NULL
    ), binned AS (
        SELECT CAST(LEAST(FLOOR((value - lo_v) * {KS_BINS}.0 / (hi_v - lo_v)),
                          {KS_BINS - 1}) AS INT) AS bin,
               CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM vals GROUP BY 1
    ), ecdf AS (
        SELECT bin,
               CAST(SUM(n_a) OVER (ORDER BY bin) AS DOUBLE)
                   / SUM(n_a) OVER () AS f_a,
               CAST(SUM(n_b) OVER (ORDER BY bin) AS DOUBLE)
                   / SUM(n_b) OVER () AS f_b,
               SUM(n_a) OVER () AS tot_a, SUM(n_b) OVER () AS tot_b
        FROM binned
    )
    SELECT ROUND(MAX(ABS(f_a - f_b)), 6) AS ks_stat,
           COUNT(*) AS n_bins_hit,
           CAST(MAX(tot_a) AS BIGINT) AS n_a_total,
           CAST(MAX(tot_b) AS BIGINT) AS n_b_total
    FROM ecdf
    """,
    tags=("dq", "drift", "ks", "data-quality"),
)
def q_dq_drift_ks(spark, sf_dir):
    """Numeric distribution drift between two time snapshots, scored as
    a binned two-sample Kolmogorov–Smirnov statistic: max ECDF gap over
    a {KS_BINS}-bin equi-width grid of the observed value range. The
    binned form trades exact KS for a bounded-size cumulative pass —
    the trade every production drift monitor makes.

    Scale shape: the input never sorts globally. One hash aggregate on
    the bin id (≤100 groups) collapses any input volume to ≤100 rows;
    the cumulative-sum window and the final max run over that
    driver-size frame. The value-range bounds ride along as analytic
    windows over the same scan (Catalyst evaluates them in one pass);
    the time-range bounds are a 1-row broadcast. ECDF gaps only change
    at observed bins, so skipping empty bins is exact, not an
    approximation.
    """
    ev = t(spark, sf_dir, "events")
    ts_s = epoch_s("ts")
    bounds = ev.agg(F.min(ts_s).alias("lo_t"), F.max(ts_s).alias("hi_t"))
    w_all = W.partitionBy()
    vals = (
        ev.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .withColumn(
            "grp",
            F.when((ts_s - F.col("lo_t")) * 2 < F.col("hi_t") - F.col("lo_t"), "a")
            .otherwise("b"),
        )
        .withColumn("lo_v", F.min("value").over(w_all))
        .withColumn("hi_v", F.max("value").over(w_all))
    )
    binned = (
        vals.withColumn(
            "bin",
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo_v"))
                    * float(KS_BINS)
                    / (F.col("hi_v") - F.col("lo_v"))
                ),
                F.lit(KS_BINS - 1),
            ).cast("int"),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("grp") == "a", 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("grp") == "b", 1).otherwise(0)).alias("n_b"),
        )
    )
    w_cum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    ecdf = binned.select(
        "bin",
        (F.sum("n_a").over(w_cum) / F.sum("n_a").over(w_all)).alias("f_a"),
        (F.sum("n_b").over(w_cum) / F.sum("n_b").over(w_all)).alias("f_b"),
        F.sum("n_a").over(w_all).alias("tot_a"),
        F.sum("n_b").over(w_all).alias("tot_b"),
    )
    return ecdf.agg(
        F.round(F.max(F.abs(F.col("f_a") - F.col("f_b"))), 6).alias("ks_stat"),
        F.count("*").alias("n_bins_hit"),
        F.max("tot_a").alias("n_a_total"),
        F.max("tot_b").alias("n_b_total"),
    )


# Low-entropy flag threshold (bits/token): natural text over this
# fixture's vocabulary sits well above it; templated/gibberish-repetitive
# docs fall below.
ENTROPY_MIN_BITS = 3.0


@query(
    "q_text_entropy",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ), counts AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ), sizes AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1
    ), ent AS (
        SELECT c.doc_id, s.n AS n_tokens,
               CAST(SUM(CAST(ROUND(
                   -(CAST(c.c AS DOUBLE) / s.n) * LOG2(CAST(c.c AS DOUBLE) / s.n),
                   9) AS DECIMAL(18,9))) AS DOUBLE) AS h_raw
        FROM counts c JOIN sizes s USING (doc_id)
        GROUP BY 1, 2
    )
    SELECT doc_id, n_tokens,
           ROUND(h_raw, 6) AS entropy_bits,
           ROUND(h_raw, 6) < {{ENTROPY_MIN_BITS}} AS low_entropy
    FROM ent
    """.format(ENTROPY_MIN_BITS=ENTROPY_MIN_BITS),
    tags=("text", "quality", "entropy", "training-data"),
)
def q_text_entropy(spark, sf_dir):
    """Per-document token-entropy quality signal (gibberish/template
    detection): H = −Σ p·log₂p over the doc's token distribution, in
    bits/token — low entropy = few distinct tokens dominating (boiler-
    plate, keyword stuffing); the information-theoretic complement to
    q_text_repetition's top-bigram fraction. Each −p·log₂p term rounds
    to 9dp and accumulates in decimal, so the per-doc sum is order-
    independent (a raw double Σ would drift with partition merge order
    at 100 TB aggregate widths).

    Scale shape: explode → (doc, token) hash aggregate → per-doc
    aggregate — two combinable shuffles on doc-keyed data, the same
    shape as every text statistic here; the sizes side collapses to one
    row per doc before the join back.
    """
    d = t(spark, sf_dir, "documents")
    counts = (
        d.repartition(32, "doc_id")
        .select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    sizes = counts.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    term = F.round(-p * F.log2(p), 9).cast("decimal(18,9)")
    ent = (
        counts.join(sizes, "doc_id")
        .groupBy("doc_id", "n")
        .agg(F.sum(term).cast("double").alias("h_raw"))
    )
    return ent.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.round("h_raw", 6).alias("entropy_bits"),
        (F.round("h_raw", 6) < ENTROPY_MIN_BITS).alias("low_entropy"),
    )


# Per-feature drift grid resolution.
FEATURE_DRIFT_BINS = 10


@query(
    "q_dq_drift_features",
    oracle=f"""
    WITH long AS (
        SELECT CAST(epoch(date_trunc('second', l_shipdate)) AS BIGINT) AS ts_s,
               'quantity' AS feature, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT CAST(epoch(date_trunc('second', l_shipdate)) AS BIGINT),
               'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT CAST(epoch(date_trunc('second', l_shipdate)) AS BIGINT),
               'discount', l_discount FROM lineitem
    ), bounds AS (
        SELECT MIN(ts_s) AS lo_t, MAX(ts_s) AS hi_t FROM long
    ), fb AS (
        SELECT feature, MIN(value) AS lo_v, MAX(value) AS hi_v
        FROM long GROUP BY 1
    ), tagged AS (
        SELECT l.feature, l.value,
               CASE WHEN (l.ts_s - b.lo_t) * 2 < (b.hi_t - b.lo_t)
                    THEN 'a' ELSE 'b' END AS grp,
               f.lo_v, f.hi_v
        FROM long l CROSS JOIN bounds b JOIN fb f ON l.feature = f.feature
    ), binned AS (
        SELECT feature,
               CAST(LEAST(FLOOR((value - lo_v) * {FEATURE_DRIFT_BINS}.0
                                / (hi_v - lo_v)), {FEATURE_DRIFT_BINS - 1}) AS INT)
                   AS bin,
               CAST(COUNT(CASE WHEN grp = 'a' THEN 1 END) AS BIGINT) AS n_a,
               CAST(COUNT(CASE WHEN grp = 'b' THEN 1 END) AS BIGINT) AS n_b
        FROM tagged GROUP BY 1, 2
    ), shares AS (
        SELECT feature, bin, n_a, n_b,
               GREATEST(CAST(n_a AS DOUBLE)
                        / SUM(n_a) OVER (PARTITION BY feature), {PSI_EPS}) AS p_a,
               GREATEST(CAST(n_b AS DOUBLE)
                        / SUM(n_b) OVER (PARTITION BY feature), {PSI_EPS}) AS p_b
        FROM binned
    )
    SELECT feature,
           CAST(SUM(CAST(ROUND((p_a - p_b) * LN(p_a / p_b), 9)
                         AS DECIMAL(18,9))) AS DOUBLE) AS psi_raw,
           ROUND(CAST(SUM(CAST(ROUND((p_a - p_b) * LN(p_a / p_b), 9)
                              AS DECIMAL(18,9))) AS DOUBLE), 6) AS psi,
           COUNT(*) AS n_bins_hit
    FROM shares GROUP BY feature
    """,
    tags=("dq", "drift", "psi", "feature-store", "monitoring"),
)
def q_dq_drift_features(spark, sf_dir):
    """Per-feature drift table — the nightly feature-store monitor: every
    numeric feature scored with binned PSI between the two time halves
    of the fact, one verdict row per feature. The single-feature
    q_dq_drift_psi/ks machinery, widened by an UNPIVOT (map-side 3×
    fan-out, Catalyst Expand — no extra scan per feature) so ALL
    features ride one pass; per-feature bounds/shares come from
    grouped (not global) windows over the bin-collapsed frame. Per-term
    rounding + decimal summation keeps each feature's PSI
    order-independent.
    """
    li = t(spark, sf_dir, "lineitem")
    ts_s = F.unix_timestamp("l_shipdate")
    long = li.select(
        ts_s.alias("ts_s"), "l_quantity", "l_extendedprice", "l_discount"
    ).unpivot(
        ["ts_s"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "feature",
        "value",
    ).withColumn("feature", F.regexp_replace("feature", "^l_", ""))
    bounds = long.agg(F.min("ts_s").alias("lo_t"), F.max("ts_s").alias("hi_t"))
    fb = long.groupBy("feature").agg(
        F.min("value").alias("lo_v"), F.max("value").alias("hi_v")
    )
    tagged = (
        long.crossJoin(F.broadcast(bounds))
        .join(F.broadcast(fb), "feature")
        .withColumn(
            "grp",
            F.when(
                (F.col("ts_s") - F.col("lo_t")) * 2 < F.col("hi_t") - F.col("lo_t"),
                "a",
            ).otherwise("b"),
        )
    )
    binned = (
        tagged.withColumn(
            "bin",
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo_v"))
                    * float(FEATURE_DRIFT_BINS)
                    / (F.col("hi_v") - F.col("lo_v"))
                ),
                F.lit(FEATURE_DRIFT_BINS - 1),
            ).cast("int"),
        )
        .groupBy("feature", "bin")
        .agg(
            F.count(F.when(F.col("grp") == "a", 1)).alias("n_a"),
            F.count(F.when(F.col("grp") == "b", 1)).alias("n_b"),
        )
    )
    w_f = W.partitionBy("feature")
    shares = binned.select(
        "feature",
        "bin",
        "n_a",
        "n_b",
        F.greatest(F.col("n_a") / F.sum("n_a").over(w_f), F.lit(PSI_EPS)).alias("p_a"),
        F.greatest(F.col("n_b") / F.sum("n_b").over(w_f), F.lit(PSI_EPS)).alias("p_b"),
    )
    term = F.round(
        (F.col("p_a") - F.col("p_b")) * F.log(F.col("p_a") / F.col("p_b")), 9
    ).cast("decimal(18,9)")
    return shares.groupBy("feature").agg(
        F.sum(term).cast("double").alias("psi_raw"),
        F.round(F.sum(term).cast("double"), 6).alias("psi"),
        F.count("*").alias("n_bins_hit"),
    )


@query(
    "q_dq_benford",
    oracle="""
    WITH digits AS (
        SELECT CAST(SUBSTR(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                    AS BIGINT) AS VARCHAR), 1, 1) AS INT)
                   AS digit
        FROM orders WHERE o_totalprice > 0
    ), counted AS (
        SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS n_total FROM counted)
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / (SELECT n_total FROM tot), 6) AS obs_freq,
           ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_freq,
           ROUND(POWER(n - (SELECT n_total FROM tot) * LOG10(1.0 + 1.0 / digit), 2)
                 / ((SELECT n_total FROM tot) * LOG10(1.0 + 1.0 / digit)), 4)
               AS chi2_term
    FROM counted
    """,
    tags=("quality", "benford", "fraud"),
)
def q_dq_benford(spark, sf_dir):
    """Benford's-law first-digit audit on order totals — the classic
    fabricated-data / fraud screen: naturally occurring amounts follow
    P(d) = log10(1 + 1/d), and a synthetic or tampered column shows up
    as fat chi-square terms on specific digits. The digit is extracted
    through an exact decimal→cents→string path (no float log10 of the
    value itself, whose power-of-ten boundaries round differently per
    engine). One hash aggregate to ≤9 rows, a broadcast scalar total,
    then closed-form arithmetic — the audit costs one scan at any
    scale."""
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    digits = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
    )
    counted = digits.groupBy("digit").agg(F.count("*").alias("n"))
    tot = counted.agg(F.sum("n").cast("double").alias("n_total"))
    exp_freq = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        counted.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("n_total"), 6).alias("obs_freq"),
            F.round(exp_freq, 6).alias("benford_freq"),
            F.round(
                F.pow(F.col("n") - F.col("n_total") * exp_freq, 2)
                / (F.col("n_total") * exp_freq),
                4,
            ).alias("chi2_term"),
        )
    )


@query(
    "q_text_readability",
    oracle="""
    WITH feats AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
                   AS n_sentences,
               CAST(GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
                    AS BIGINT) AS n_syllables
        FROM documents
        WHERE len(string_split(text, ' ')) > 0
    )
    SELECT doc_id, lang, n_words, n_sentences, n_syllables,
           -- exact half-up 2dp rounding in integer arithmetic: the float
           -- formula lands exactly on .005 midpoints for some (w,s,syl)
           -- and engines round those differently
           CAST(FLOOR((200 * (206835 * n_sentences * n_words
                              - 1015 * n_words * n_words
                              - 84600 * n_syllables * n_sentences)
                       + 1000 * n_sentences * n_words)
                      / (2000 * n_sentences * n_words)) AS BIGINT) / 100.0
               AS flesch
    FROM feats
    """,
    tags=("text", "readability", "flesch", "quality"),
)
def q_text_readability(spark, sf_dir):
    """Flesch reading-ease per document with a vowel-cluster syllable
    approximation ([aeiouy]+ runs — the standard dictionary-free
    heuristic) and [.!?]+ sentence boundaries, both floored at 1 so the
    formula is total: 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words), rounded 2dp (two integer-ratio IEEE
    divisions — deterministic). Readability joins the quality-score
    family (q_text_quality_score) as a complexity axis the
    length/punctuation ratios don't capture. Map-only: three codegen
    regexp passes per row, zero shuffles."""
    d = t(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    n_syl = F.greatest(
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), 0)),
        F.lit(1),
    )
    feats = d.filter(n_words > 0).select(
        "doc_id",
        "lang",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syl.cast("long").alias("n_syllables"),
    )
    # N = milli-flesch × (s·w); exact integer half-up rounding to 2dp —
    # the float formula hits exact .005 midpoints (e.g. w=18, s=1,
    # syl=22 → 85.165) that Spark and DuckDB round in opposite
    # directions
    n_int = (
        206835 * F.col("n_sentences") * F.col("n_words")
        - 1015 * F.col("n_words") * F.col("n_words")
        - 84600 * F.col("n_syllables") * F.col("n_sentences")
    )
    denom = 1000 * F.col("n_sentences") * F.col("n_words")
    return feats.select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_syllables",
        (
            F.floor((200 * n_int + denom) / (2 * denom)).cast("bigint") / 100.0
        ).alias("flesch"),
    )


@query(
    "q_text_novelty",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ), sh AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   UNNEST(list_transform(range(1, len(tk)),
                                         i -> tk[i] || ' ' || tk[i+1])) AS g
            FROM toks)
    ), firsts AS (
        SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g
    )
    SELECT sh.doc_id,
           COUNT(*) AS n_distinct_bigrams,
           COUNT(CASE WHEN f.first_doc = sh.doc_id THEN 1 END) AS n_novel,
           ROUND(COUNT(CASE WHEN f.first_doc = sh.doc_id THEN 1 END) * 1.0
                 / COUNT(*), 4) AS novelty
    FROM sh JOIN firsts f USING (g)
    GROUP BY 1
    """,
    tags=("text", "novelty", "curation", "training-data"),
)
def q_text_novelty(spark, sf_dir):
    """Corpus novelty curve: for each document (doc_id = ingest order),
    the fraction of its distinct word-bigrams never seen in any
    earlier document — the diminishing-returns diagnostic a crawl
    pipeline watches to decide when another dump of the same source
    stops adding information (novelty → 0 ⇒ the source is mined out).
    First-occurrence is a single min-aggregate over the shingle table
    (no ordered scan over the corpus), joined back on the shingle —
    two shuffles on the shingle key regardless of corpus size, same
    hot-key profile as the dedup shingle joins (DF-cap note there
    applies here if stopword bigrams dominate)."""
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("tk"))
        .filter(F.size("tk") >= 2)
    )
    sh = d.select(
        "doc_id", F.explode(F.array_distinct(bigrams(F.col("tk")))).alias("g")
    )
    firsts = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    joined = sh.join(firsts, "g")
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1)
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_distinct_bigrams"),
        F.count(novel).alias("n_novel"),
        F.round(F.count(novel) / F.count("*"), 4).alias("novelty"),
    )


@query(
    "q_dq_freshness",
    oracle="""
    WITH oe AS (
        SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS corpus_max FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_us,
           CAST((MAX(oe.corpus_max) - MAX(epoch_us(CAST(ts AS TIMESTAMP))))
                // 3600000000 AS BIGINT) AS lag_hours,
           COUNT(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                           >= oe.corpus_max - 7 * 86400000000
                      THEN 1 END) AS n_last_7d,
           CASE WHEN (MAX(oe.corpus_max) - MAX(epoch_us(CAST(ts AS TIMESTAMP))))
                     // 3600000000 > 24 THEN 1 ELSE 0 END AS stale
    FROM events CROSS JOIN oe
    GROUP BY event_type, oe.corpus_max
    """,
    tags=("dq", "freshness", "staleness", "monitoring"),
)
def q_dq_freshness(spark, sf_dir):
    """Per-source freshness/staleness audit — the first page of every
    data-quality dashboard: last event time per source (event_type
    standing in for the feed), hours of lag behind the freshest feed,
    trailing-7-day volume, and a stale flag at the 24h SLO. The
    reference clock is the corpus max (not wall clock), so the audit is
    deterministic and replayable. One broadcast scalar + one hash
    aggregate; at 100 TB the per-feed max rides partition-pruned footer
    stats when the table is date-partitioned."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    oe = ev.agg(F.max("us").alias("corpus_max"))
    joined = ev.crossJoin(F.broadcast(oe))
    agg = joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.max("us").alias("last_us"),
        F.max("corpus_max").alias("cm"),
        F.count(
            F.when(F.col("us") >= F.col("corpus_max") - 7 * 86400000000, 1)
        ).alias("n_last_7d"),
    )
    lag_h = F.expr("(cm - last_us) div 3600000000")
    return agg.select(
        "event_type",
        "n_events",
        "last_us",
        lag_h.alias("lag_hours"),
        "n_last_7d",
        F.when(lag_h > 24, 1).otherwise(0).alias("stale"),
    )


@query(
    "q_dq_table_fingerprint",
    oracle="""
    WITH o AS (
        SELECT CAST(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
                   CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                        AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM orders
    ), l AS (
        SELECT CAST(('0x' || substr(md5(
                   CAST(l_orderkey AS VARCHAR) || '|' ||
                   CAST(l_partkey AS VARCHAR) || '|' ||
                   CAST(l_suppkey AS VARCHAR) || '|' ||
                   CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                        AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM lineitem
    )
    SELECT 'orders' AS tbl, COUNT(*) AS n_rows,
           CAST(SUM(CAST(h AS HUGEINT)) % 2305843009213693951 AS BIGINT)
               AS fingerprint FROM o
    UNION ALL
    SELECT 'lineitem', COUNT(*),
           CAST(SUM(CAST(h AS HUGEINT)) % 2305843009213693951 AS BIGINT) FROM l
    """,
    tags=("dq", "fingerprint", "checksum", "reconciliation"),
)
def q_dq_table_fingerprint(spark, sf_dir):
    """Order-independent table fingerprints — the O(1)-output
    reconciliation primitive behind 'did replication/migration change
    anything': each row canonicalizes to a pipe-joined string of its
    business key and cent-exact money (never raw doubles — their string
    forms differ across engines), hashes to a 60-bit integer (15 hex
    chars of md5 — identical under Spark's conv and DuckDB's 0x cast),
    and the table fingerprint is the plain SUM — commutative, so
    partition/shuffle order can't change it, and MERGEABLE, so shard
    fingerprints roll up to table fingerprints for free. Pairs with
    q_diff_tables: fingerprints say WHETHER tables diverged for
    pennies; the diff says WHERE."""
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    h_o = F.expr(
        "conv(substring(md5(concat(cast(o_orderkey as string), '|', "
        "cast(o_custkey as string), '|', o_orderstatus, '|', "
        "cast(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) as string))), "
        "1, 15), 16, 10)"
    ).cast("long")
    h_l = F.expr(
        "conv(substring(md5(concat(cast(l_orderkey as string), '|', "
        "cast(l_partkey as string), '|', cast(l_suppkey as string), '|', "
        "cast(cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint) as string))), "
        "1, 15), 16, 10)"
    ).cast("long")
    MERSENNE61 = 2305843009213693951  # sums exceed int64; reduce the exact
    # decimal accumulation mod 2^61-1 so the fingerprint ships as a BIGINT
    fo = o.agg(
        F.lit("orders").alias("tbl"),
        F.count("*").alias("n_rows"),
        (F.sum(h_o.cast("decimal(25,0)")) % MERSENNE61)
        .cast("long")
        .alias("fingerprint"),
    ).select("tbl", "n_rows", "fingerprint")
    fl = l.agg(
        F.lit("lineitem").alias("tbl"),
        F.count("*").alias("n_rows"),
        (F.sum(h_l.cast("decimal(25,0)")) % MERSENNE61)
        .cast("long")
        .alias("fingerprint"),
    ).select("tbl", "n_rows", "fingerprint")
    return fo.unionAll(fl)


@query(
    "q_curate_pseudonymize",
    oracle="""
    WITH p AS (
        SELECT substr(sha256('tenant-salt-42|' || CAST(user_id AS VARCHAR)), 1, 16)
                   AS pid,
               user_id, value
        FROM events
    )
    SELECT substr(pid, 1, 1) AS bucket,
           COUNT(*) AS n_events,
           COUNT(DISTINCT pid) AS n_pseudonyms,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS cents
    FROM p GROUP BY 1
    """,
    tags=("curation", "pseudonymization", "privacy", "compliance"),
)
def q_curate_pseudonymize(spark, sf_dir):
    """Deterministic pseudonymization (keyed-hash tokenization): user
    ids map to salted-SHA256 pseudonyms so analytics keep referential
    integrity without raw identifiers — the GDPR-friendly sibling of
    hard erasure (q_curate_erasure). The declared result groups by
    pseudonym prefix bucket and asserts, value-visibly, that pseudonyms
    stay 1:1 with users per bucket (n_pseudonyms = n_users — a salt
    collision or truncation bug would split or merge identities and
    break the hash match). Map-only hashing (codegen sha2) + one
    aggregate; in production the salt lives in a KMS, never in code."""
    ev = t(spark, sf_dir, "events")
    pid = F.substring(
        F.sha2(F.concat(F.lit("tenant-salt-42|"), F.col("user_id").cast("string")), 256),
        1,
        16,
    )
    p = ev.select(pid.alias("pid"), "user_id", "value")
    return p.groupBy(F.substring("pid", 1, 1).alias("bucket")).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("pid").alias("n_pseudonyms"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum((dec("value") * 100).cast("long")).alias("cents"),
    )


@query(
    "q_dq_error_budget",
    oracle="""
    WITH hourly AS (
        SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
                   AS hr,
               COUNT(*) AS n,
               COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS errs
        FROM events GROUP BY 1
    ), rolling AS (
        SELECT hr, n, errs,
               CAST(SUM(n) OVER w AS BIGINT) AS n24,
               CAST(SUM(errs) OVER w AS BIGINT) AS e24,
               CAST(COUNT(*) OVER w AS BIGINT) AS hrs
        FROM hourly
        WINDOW w AS (ORDER BY hr ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT hr, n24, e24,
           ROUND(e24 * 10000.0 / n24, 4) AS err_bp,
           CASE WHEN e24 * 100 > n24 * 25 THEN 1 ELSE 0 END AS burn_alarm
    FROM rolling WHERE hrs = 24
    """,
    tags=("dq", "slo", "error-budget", "observability"),
)
def q_dq_error_budget(spark, sf_dir):
    """Rolling 24h error-budget burn — the SRE view of the event stream:
    hourly totals collapse the volume first, a trailing-24h window sums
    requests and errors, and the alarm fires when the rolling error
    rate exceeds 25% of a 1%-error SLO's budget... precisely: when
    e24/n24 > 0.25% — evaluated as the integer cross-multiplication
    e24·100 > n24·25, so the alarm can't flip on a float boundary.
    Rows are emitted only at full 24h support (same rule as RSI). The
    consecutive-hour assumption holds for this dense fixture; sparse
    feeds would first gap-fill the hourly spine (q_ts_interpolate)."""
    hourly = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.unix_timestamp(
                F.date_trunc("hour", F.col("ts").cast("timestamp"))
            ).alias("hr")
        )
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("errs"),
        )
    )
    w = W.orderBy("hr").rowsBetween(-23, 0)
    rolling = (
        hourly.withColumn("n24", F.sum("n").over(w))
        .withColumn("e24", F.sum("errs").over(w))
        .withColumn("hrs", F.count("*").over(w))
    )
    return rolling.filter(F.col("hrs") == 24).select(
        "hr",
        "n24",
        "e24",
        F.round(F.col("e24") * 10000.0 / F.col("n24"), 4).alias("err_bp"),
        F.when(F.col("e24") * 100 > F.col("n24") * 25, 1)
        .otherwise(0)
        .alias("burn_alarm"),
    )


# Candidate functional dependencies for the FD profiler: (name, table,
# lhs column, rhs column). A mix of true FDs (key-determined) and
# plausible-but-false ones — the profiler's job is telling them apart.
FD_CANDIDATES = (
    ("nation_key_region", "nation", "n_nationkey", "n_regionkey"),
    ("cust_segment_nation", "customer", "c_mktsegment", "c_nationkey"),
    ("order_cust_priority", "orders", "o_custkey", "o_orderpriority"),
    ("order_date_status", "orders", "o_orderdate", "o_orderstatus"),
    ("line_part_supp", "lineitem", "l_partkey", "l_suppkey"),
)


@query(
    "q_dq_functional_deps",
    oracle="""
    WITH checks AS (
        SELECT 'nation_key_region' AS fd, CAST(n_nationkey AS VARCHAR) AS lhs,
               CAST(n_regionkey AS VARCHAR) AS rhs FROM nation
        UNION ALL
        SELECT 'cust_segment_nation', CAST(c_mktsegment AS VARCHAR),
               CAST(c_nationkey AS VARCHAR) FROM customer
        UNION ALL
        SELECT 'order_cust_priority', CAST(o_custkey AS VARCHAR),
               CAST(o_orderpriority AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'order_date_status', CAST(o_orderdate AS VARCHAR),
               CAST(o_orderstatus AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'line_part_supp', CAST(l_partkey AS VARCHAR),
               CAST(l_suppkey AS VARCHAR) FROM lineitem
    ), per_lhs AS (
        SELECT fd, lhs, COUNT(DISTINCT rhs) AS card FROM checks GROUP BY 1, 2
    )
    SELECT fd,
           COUNT(*) AS n_lhs_groups,
           COUNT(CASE WHEN card > 1 THEN 1 END) AS n_violating,
           CAST(MAX(card) AS BIGINT) AS max_rhs_card,
           COUNT(CASE WHEN card > 1 THEN 1 END) = 0 AS holds
    FROM per_lhs GROUP BY 1
    """,
    tags=("dq", "functional-dependency", "profiling"),
)
def q_dq_functional_deps(spark, sf_dir):
    """Functional-dependency profiler — the data-quality check behind
    "is this column determined by that one?" (key discovery, schema
    normalization, silent-denormalization-drift alarms): for each
    candidate FD A→B, count the LHS groups whose distinct-RHS
    cardinality exceeds 1. True FDs (nation key → region) report zero
    violations; plausible-but-false ones (part → supplier: TPC-H gives
    every part ~4 suppliers) report their violation profile. One long
    unpivoted (fd, lhs, rhs) stream → per-LHS distinct aggregate →
    per-FD rollup, two combinable shuffles regardless of how many
    candidate FDs share the pass — the same fan-out discipline as
    q_dq_drift_features. Violating-group counts use COUNT(CASE) so both
    engines type them integral (§2.4)."""
    parts = []
    for fd, table, lhs, rhs in FD_CANDIDATES:
        parts.append(
            t(spark, sf_dir, table).select(
                F.lit(fd).alias("fd"),
                F.col(lhs).cast("string").alias("lhs"),
                F.col(rhs).cast("string").alias("rhs"),
            )
        )
    checks = parts[0]
    for p in parts[1:]:
        checks = checks.unionByName(p)
    per_lhs = checks.groupBy("fd", "lhs").agg(
        F.count_distinct("rhs").alias("card")
    )
    return per_lhs.groupBy("fd").agg(
        F.count(F.lit(1)).alias("n_lhs_groups"),
        F.count(F.when(F.col("card") > 1, 1)).alias("n_violating"),
        F.max("card").cast("bigint").alias("max_rhs_card"),
        (F.count(F.when(F.col("card") > 1, 1)) == 0).alias("holds"),
    )


@query(
    "q_dq_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_finished,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(epoch(MIN(o_orderdate)) AS BIGINT) AS first_epoch,
           CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS last_epoch
    FROM orders
    """,
    tags=("dq", "observe", "observability"),
)
def q_dq_observe_metrics(spark, sf_dir):
    """Inline data-quality metrics via the Observation API
    (`df.observe` + a `noop`-sink action): row count, status count,
    exact decimal revenue, and the observed date range are collected
    DURING the single pass the write action already makes — the
    production pattern for DQ gates on ETL jobs (no second scan, no
    cached intermediate; the metrics ride the task completion events).
    The observed values surface as a one-row frame hash-checked against
    recomputing the same aggregates in SQL — pinning that observe sees
    EVERY row exactly once at any scale (speculative/retried tasks
    don't double-count: Spark folds accumulators per-attempt).

    Scale shape: zero extra distributed work by construction — the
    noop sink is the full-scan action a real job's write provides."""
    from pyspark.sql import Observation
    from pyspark.sql import types as T

    obs = Observation("dq_gate")
    df = t(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
        F.unix_timestamp(F.min(F.col("o_orderdate").cast("timestamp"))).alias("first_epoch"),
        F.unix_timestamp(F.max(F.col("o_orderdate").cast("timestamp"))).alias("last_epoch"),
    )
    df.write.format("noop").mode("overwrite").save()
    m = obs.get
    schema = T.StructType(
        [
            T.StructField("n_rows", T.LongType()),
            T.StructField("n_finished", T.LongType()),
            T.StructField("total_price", T.DoubleType()),
            T.StructField("first_epoch", T.LongType()),
            T.StructField("last_epoch", T.LongType()),
        ]
    )
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_finished"],
                m["total_price"],
                m["first_epoch"],
                m["last_epoch"],
            )
        ],
        schema,
    )


K_ANON_K = 10
K_ANON_L = 3


@query(
    "q_curate_k_anonymity",
    oracle=f"""
    WITH cells AS (
        SELECT c_nationkey,
               CAST(floor(CAST(c_acctbal AS DECIMAL(18,2)) / 1000) AS BIGINT)
                   AS bal_band,
               COUNT(*) AS n,
               COUNT(DISTINCT c_mktsegment) AS n_sensitive
        FROM customer
        GROUP BY 1, 2
    )
    SELECT c_nationkey, bal_band, n, n_sensitive,
           n >= {K_ANON_K} AS k_anonymous,
           n_sensitive >= {K_ANON_L} AS l_diverse,
           ROUND(1.0 / n, 6) AS reident_risk
    FROM cells
    """,
    tags=("curate", "privacy", "k-anonymity", "l-diversity"),
)
def q_curate_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala et
    al. 2007) — the privacy measurement that decides whether a curated
    release re-identifies people, completing the privacy suite beside
    q_text_pii_scrub / q_curate_pseudonymize / q_curate_erasure: bucket
    every record by its QUASI-IDENTIFIER tuple (nation, $1000
    account-balance band), count the equivalence class (k-anonymity:
    every class ≥ k) and its distinct sensitive values (l-diversity:
    a class that is all one market segment leaks the segment even when
    k-anonymous). Per-cell re-identification risk 1/n is what a privacy
    reviewer reads first.

    Scale shape: ONE combinable hash aggregate over the quasi-identifier
    key (count + count-distinct together); the flags and risk are scalar
    projections of the cell frame (≤ |nations|×|bands| rows regardless
    of corpus size). The balance band floors an exact decimal (not a
    double) so both engines bucket identically at the boundaries."""
    c = t(spark, sf_dir, "customer")
    cells = c.groupBy(
        "c_nationkey",
        F.floor(dec("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("c_mktsegment").alias("n_sensitive"),
    )
    return cells.select(
        "c_nationkey",
        "bal_band",
        "n",
        "n_sensitive",
        (F.col("n") >= K_ANON_K).alias("k_anonymous"),
        (F.col("n_sensitive") >= K_ANON_L).alias("l_diverse"),
        F.round(F.lit(1.0) / F.col("n"), 6).alias("reident_risk"),
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Appendix A1.1).
# The published document-level filter: word count in [50, 100000], mean
# word length in [3, 10], symbol-to-word ratio (# or ...) <= 0.1, < 90%
# of lines bullet-started, < 30% of lines ellipsis-ended, >= 80% of
# words containing an alphabetic character, and >= 2 of 8 designated
# English stop words present.

GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MWL_MIN, GOPHER_MWL_MAX = 3.0, 10.0

_GOPHER_STOPS_SQL = ", ".join(f"'{w}'" for w in GOPHER_STOPS)


@query(
    "q_text_gopher_rules",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, lang, string_split(text, ' ') AS tk,
               string_split(text, chr(10)) AS ln,
               length(replace(text, ' ', '')) AS wchars,
               length(text)
                 - length(replace(text, '#', ''))
                 + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym
        FROM documents
    ), m AS (
        SELECT doc_id, lang,
               len(tk) AS n_words,
               CAST(wchars AS DOUBLE) / len(tk) AS mwl,
               CAST(n_sym AS DOUBLE) / len(tk) AS sym_ratio,
               CAST(len(list_filter(ln, x -> x LIKE '-%' OR x LIKE '*%'
                    OR x LIKE '•%')) AS DOUBLE) / len(ln) AS bullet_frac,
               CAST(len(list_filter(ln, x -> x LIKE '%...'
                    OR x LIKE '%…')) AS DOUBLE) / len(ln) AS ellipsis_frac,
               CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
                    AS DOUBLE) / len(tk) AS alpha_frac,
               len(list_intersect(tk, [{_GOPHER_STOPS_SQL}])) AS n_stops
        FROM w
    )
    SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words,
           ROUND(mwl, 6) AS mean_word_len,
           CAST(n_stops AS BIGINT) AS n_stop_types,
           CAST(CASE WHEN n_words >= {GOPHER_MIN_WORDS}
                      AND n_words <= {GOPHER_MAX_WORDS} THEN 1 ELSE 0 END
                AS BIGINT) AS r_word_count,
           CAST(CASE WHEN mwl >= {GOPHER_MWL_MIN}
                      AND mwl <= {GOPHER_MWL_MAX} THEN 1 ELSE 0 END
                AS BIGINT) AS r_mean_word_len,
           CAST(CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END
                AS BIGINT) AS r_symbol_ratio,
           CAST(CASE WHEN 10 * len(list_filter(ln, x -> x LIKE '-%'
                    OR x LIKE '*%' OR x LIKE '•%')) < 9 * len(ln)
                THEN 1 ELSE 0 END AS BIGINT) AS r_bullet_lines,
           CAST(CASE WHEN 10 * len(list_filter(ln, x -> x LIKE '%...'
                    OR x LIKE '%…')) < 3 * len(ln)
                THEN 1 ELSE 0 END AS BIGINT) AS r_ellipsis_lines,
           CAST(CASE WHEN 5 * len(list_filter(tk,
                    x -> regexp_matches(x, '[A-Za-z]'))) >= 4 * len(tk)
                THEN 1 ELSE 0 END AS BIGINT) AS r_alpha_words,
           CAST(CASE WHEN n_stops >= 2 THEN 1 ELSE 0 END
                AS BIGINT) AS r_stop_words
    FROM m JOIN w USING (doc_id, lang)
    """,
    tags=("text", "quality", "gopher", "training-data"),
)
def q_text_gopher_rules(spark, sf_dir):
    """The complete Gopher document-quality rule set (Rae et al. 2021
    A1.1) as one zero-shuffle projection: all seven published rules
    computed per document, each emitted as a 0/1 flag alongside the
    underlying measurements. Ratio rules are decided by EXACT integer
    cross-multiplication (10*n_sym <= n_words, 5*n_alpha >= 4*n_words,
    ...), never a float threshold, so the flags hash-match the oracle
    bit-for-bit. On this synthetic single-line fixture the line-level
    and symbol rules are structurally satisfied (no newlines/#/...) and
    the word-count + stop-word rules bite (277/500 resp. 224/500 at
    sf0.01); on a real crawl all seven vary. At 100 TB the whole rule
    set rides the scan — flags partition the corpus for routing with no
    second pass, exactly like q_text_filter_cascade's verdict column."""
    d = t(spark, sf_dir, "documents")
    tk = tokens("text")
    ln = F.split("text", "\n")
    n_words = F.size(tk)
    n_lines = F.size(ln)
    wchars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_sym = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
        + F.size(F.regexp_extract_all("text", F.lit(r"\.\.\."), 0))
    )
    n_bullet = F.size(
        F.filter(
            ln,
            lambda x: x.startswith("-") | x.startswith("*") | x.startswith("•"),
        )
    )
    n_ellip = F.size(
        F.filter(ln, lambda x: x.endswith("...") | x.endswith("…"))
    )
    n_alpha = F.size(F.filter(tk, lambda x: x.rlike("[A-Za-z]")))
    n_stops = F.size(F.array_intersect(tk, F.array(*[F.lit(s) for s in GOPHER_STOPS])))
    mwl = wchars.cast("double") / n_words
    flag = lambda c: F.when(c, 1).otherwise(0).cast("long")  # noqa: E731
    return d.select(
        "doc_id",
        "lang",
        n_words.cast("long").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        n_stops.cast("long").alias("n_stop_types"),
        flag(
            (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
        ).alias("r_word_count"),
        flag((mwl >= GOPHER_MWL_MIN) & (mwl <= GOPHER_MWL_MAX)).alias(
            "r_mean_word_len"
        ),
        flag(10 * n_sym <= n_words).alias("r_symbol_ratio"),
        flag(10 * n_bullet < 9 * n_lines).alias("r_bullet_lines"),
        flag(10 * n_ellip < 3 * n_lines).alias("r_ellipsis_lines"),
        flag(5 * n_alpha >= 4 * n_words).alias("r_alpha_words"),
        flag(n_stops >= 2).alias("r_stop_words"),
    )


@query(
    "q_dq_join_cardinality",
    oracle="""
    WITH p AS (
        SELECT user_id, COUNT(*) AS c FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    ), c AS (
        SELECT user_id, COUNT(*) AS c FROM events
        WHERE event_type = 'click' GROUP BY user_id
    ), m AS (
        SELECT p.user_id, p.c * c.c AS contrib
        FROM p JOIN c ON p.user_id = c.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_keys_left,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_keys_right,
           CAST(COUNT(*) AS BIGINT) AS n_keys_matched,
           CAST(COALESCE(SUM(contrib), 0) AS BIGINT) AS est_rows,
           CAST(COALESCE(MAX(contrib), 0) AS BIGINT) AS max_key_rows,
           CAST(MAX(contrib) AS DOUBLE) / CAST(SUM(contrib) AS DOUBLE)
               AS top_share
    FROM m
    """,
    tags=("quality", "cardinality", "join-planning"),
)
def q_dq_join_cardinality(spark, sf_dir):
    """Join-cardinality pre-flight: the EXACT output row count of a
    fact-fact equi-join (purchases ⋈ clicks on user_id), computed
    WITHOUT shuffling either fact table — Σ over matched keys of
    cnt_left(k) · cnt_right(k), plus the planning signals that decide
    the join strategy at 100 TB: per-side key counts, matched-key
    count, the largest single key's output contribution, and its share
    of the total (one hot key owning most of the output ⇒ salt or
    bucket BEFORE running the real join; q_dq_join_key_skew profiles
    the input side, this profiles the OUTPUT side — a key can be mild
    in both inputs yet dominate the product).

    Scale shape: two map-side-combinable per-key count aggregates (the
    only passes over the facts), then a join of the |keys|-row count
    frames and a single-row aggregate — everything after the first
    aggregates is KB–MB-scale. top_share is one IEEE division of two
    exact int64→double conversions, bit-identical cross-engine."""
    ev = t(spark, sf_dir, "events")

    def side(et):
        return (
            ev.filter(F.col("event_type") == et)
            .groupBy("user_id")
            .agg(F.count("*").alias("c"))
        )

    p, c = side("purchase"), side("click")
    m = p.alias("p").join(c.alias("c"), "user_id").select(
        (F.col("p.c") * F.col("c.c")).alias("contrib")
    )
    pk = p.agg(F.count("*").alias("n_keys_left"))
    ck = c.agg(F.count("*").alias("n_keys_right"))
    mm = m.agg(
        F.count("*").alias("n_keys_matched"),
        F.coalesce(F.sum("contrib"), F.lit(0)).cast("long").alias("est_rows"),
        F.coalesce(F.max("contrib"), F.lit(0)).cast("long").alias("max_key_rows"),
        (
            F.max("contrib").cast("double") / F.sum("contrib").cast("double")
        ).alias("top_share"),
    )
    return (
        mm.crossJoin(F.broadcast(pk))
        .crossJoin(F.broadcast(ck))
        .select(
            "n_keys_left",
            "n_keys_right",
            "n_keys_matched",
            "est_rows",
            "max_key_rows",
            "top_share",
        )
    )


@query(
    "q_dq_join_key_skew",
    oracle="""
    WITH keyed AS (
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ), tot AS (
        SELECT SUM(cnt) AS n_rows, COUNT(*) AS n_keys FROM keyed
    )
    SELECT k.user_id, k.cnt,
           k.cnt / t.n_rows AS share,
           (k.cnt * t.n_keys) / t.n_rows AS skew_vs_avg
    FROM keyed k CROSS JOIN tot t
    ORDER BY k.cnt DESC, k.user_id LIMIT 10
    """,
    tags=("quality", "skew", "join-planning"),
)
def q_dq_join_key_skew(spark, sf_dir):
    """Join-key skew audit: the pre-flight a 100 TB fact-fact join wants
    BEFORE it shuffles — per-key row counts on the would-be shuffle key,
    each heavy hitter's share of the table, and its skew factor vs the
    mean key (cnt · n_keys / n_rows). The remedies this report feeds,
    by downstream operator class: shuffled JOINS → AQE's skew-join
    split or the salting operator in operators/skew.py; ORDER-dependent
    WINDOW operators (as-of joins, running aggregates) → the
    time-bucketed two-phase variants (operators/asof.py
    asof_join_bucketed, operators/globalrank.py), because AQE rewrites
    only shuffled join reads and can NEVER split a Window's Exchange
    without breaking frame semantics; UNBOUNDED-frame window algebra
    (the frame-exclusion family, queries/windows.py) → the
    group-collapse shape of q_win_frame_groups — per-key totals via a
    combinable groupBy + broadcast join-back, no Window at all
    (measured 1.5-2.1× at the 30× hot-key probe, BASELINE.md
    "Window frame-exclusion under a hot key"). One combinable hash
    aggregate to |keys| rows, a broadcast 1-row total, and a
    TakeOrderedAndProject top-10 — no windows, no second fact scan.
    Both ratios are a SINGLE IEEE division of exact int64s (the
    multiply stays integer), so the doubles are bit-identical
    cross-engine."""
    ev = t(spark, sf_dir, "events")
    keyed = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    tot = keyed.agg(
        F.sum("cnt").alias("n_rows"), F.count("*").alias("n_keys")
    )
    return (
        keyed.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "cnt",
            (F.col("cnt") / F.col("n_rows")).alias("share"),
            ((F.col("cnt") * F.col("n_keys")) / F.col("n_rows")).alias(
                "skew_vs_avg"
            ),
        )
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(10)
    )
