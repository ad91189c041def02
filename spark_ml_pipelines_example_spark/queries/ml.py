"""ML-pipeline declared queries (SURVEY §2.2 'ML pipeline operators').

The reference's core surface (R4, R6-R17) exercised on the fixture
tables. Training is seeded but engine-specific → rows-only checks here;
exact-semantics SQL twins live in aggregates.py (`q_agg_label_encode`
for StringIndexer, `q_agg_confusion_accuracy` for the evaluator), and the
iris-scale golden assertions in tests/test_ml.py.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ._util import dec, scratch_dir, t
from .registry import query


@query(
    "q_ml_train_test_split",
    # VERDICT r3 task #6 (rows-only → SQL): the SEEDED row assignment is
    # engine-specific, but the PARTITION CONTRACT is not — the declared
    # result is the partition invariants, each of which DuckDB derives
    # from the base table alone: the two splits are disjoint (overlap 0),
    # exhaustive (train+test = total), and membership-complete (the
    # union's id sum AND 31-bit-MD5 membership checksum equal the
    # table's — a dropped/duplicated row under any permutation flips
    # the checksum with probability 1-2^-31). The seed-specific 70/30
    # balance stays pinned in pytest, not here.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(0 AS BIGINT) AS n_overlap,
           CAST(SUM(doc_id) AS BIGINT) AS union_id_sum,
           CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))
                         AS BIGINT) & 2147483647) AS BIGINT) AS union_md5_sum
    FROM documents
    """,
    tags=("ml", "split"),
)
def q_ml_train_test_split(spark, sf_dir):
    """Seeded 70/30 randomSplit (reference R4, fixing the truncated
    TrainTestSplit body §8.2) — returns the partition-invariant checks
    computed FROM THE ACTUAL SPLITS (counts, disjointness, membership
    checksums); the oracle computes the same invariants from the base
    table, so a split that dropped, duplicated, or leaked a row between
    train and test hash-mismatches."""
    d = t(spark, sf_dir, "documents")
    train, test = d.randomSplit([0.7, 0.3], seed=42)
    h31 = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(2147483647))
    )
    parts = train.select("doc_id").unionAll(test.select("doc_id"))
    agg = parts.agg(
        F.count("*").alias("n_parts"),
        F.sum("doc_id").alias("union_id_sum"),
        F.sum(h31).alias("union_md5_sum"),
    )
    n_total = d.count()
    n_overlap = train.select("doc_id").intersect(test.select("doc_id")).count()
    return agg.select(
        F.lit(n_total).cast("long").alias("n_total"),
        F.col("n_parts").cast("long").alias("n_parts"),
        F.lit(n_overlap).cast("long").alias("n_overlap"),
        F.col("union_id_sum").cast("long").alias("union_id_sum"),
        F.col("union_md5_sum").cast("long").alias("union_md5_sum"),
    )


@query(
    "q_ml_string_indexer",
    # StringIndexer(frequencyDesc) is fully deterministic: rank by count
    # descending, ties alphabetical — the same semantics q_agg_label_encode
    # pins, here hash-checked through the ACTUAL MLlib fit+transform.
    oracle="""
    WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang)
    SELECT lang,
           CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, lang) - 1 AS DOUBLE) AS lang_idx,
           n_docs
    FROM counts
    """,
    tags=("ml", "indexer"),
)
def q_ml_string_indexer(spark, sf_dir):
    """StringIndexer fit+transform on documents.lang (reference R6) —
    returns the fitted label mapping with per-label counts, hash-checked
    against the freq-desc-then-alpha rank SQL."""
    from pyspark.ml.feature import StringIndexer

    d = t(spark, sf_dir, "documents")
    model = StringIndexer(
        inputCol="lang", outputCol="lang_idx", stringOrderType="frequencyDesc"
    ).fit(d)
    return (
        model.transform(d)
        .groupBy("lang", "lang_idx")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "q_ml_vector_assembler",
    # Assembly copies values verbatim into the vector (no arithmetic), so
    # projecting components back out must reproduce the source columns
    # bit-exactly — which is precisely what the oracle states.
    oracle="""
    SELECT l_orderkey, l_linenumber, CAST(3 AS INTEGER) AS dim,
           CAST(l_quantity AS DOUBLE) AS f_qty,
           CAST(l_extendedprice AS DOUBLE) AS f_price,
           CAST(l_discount AS DOUBLE) AS f_disc
    FROM lineitem
    """,
    tags=("ml", "assembler"),
)
def q_ml_vector_assembler(spark, sf_dir):
    """VectorAssembler packing lineitem numerics (reference R7); projects
    vector size + components back out via vector_to_array for a stable,
    UDT-free result schema, hash-checked against the identity projection."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    )
    assembled = VectorAssembler(
        inputCols=["l_quantity", "l_extendedprice", "l_discount"], outputCol="features"
    ).transform(li)
    arr = vector_to_array("features")
    return assembled.select(
        "l_orderkey",
        "l_linenumber",
        F.size(arr).cast("int").alias("dim"),
        arr[0].alias("f_qty"),
        arr[1].alias("f_price"),
        arr[2].alias("f_disc"),
    )


@query("q_ml_rf_pipeline", oracle=None, tags=("ml", "pipeline", "rf"))
def q_ml_rf_pipeline(spark, sf_dir):
    """Full reference pipeline R8-R12 on embeddings: array→vector features,
    RandomForest(numTrees=64, maxDepth=4, maxBins=64, minInfoGain=0.01,
    seed=42 — the reference config, no_pipeline/ModelFit.scala:107-110),
    fit → save → load → transform; returns the (label, prediction)
    confusion counts. Persistence round-trip is part of the query."""
    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.functions import array_to_vector

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("double").alias("label"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    rf = RandomForestClassifier(
        labelCol="label", featuresCol="features",
        numTrees=64, maxDepth=4, maxBins=64, minInfoGain=0.01, seed=42,
    )
    model = Pipeline(stages=[rf]).fit(e)
    path = scratch_dir("q_ml_rf_pipeline", sf_dir)
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)
    scored = reloaded.transform(e)
    # VERDICT r9 #5 (self-auditing rows-only result): the confusion
    # counts must partition the corpus — sum == row count (54-row
    # window, driver-scale); a green rows-only row certifies mass
    # conservation through fit → save → load → transform.
    n_total = e.count()
    conf = scored.groupBy(
        F.col("label").cast("int").alias("label"),
        F.col("prediction").cast("int").alias("prediction"),
    ).agg(F.count("*").alias("n"))
    return conf.withColumn(
        "invariant_ok", F.sum("n").over(W.partitionBy()) == F.lit(n_total)
    )


@query("q_ml_xgb_pipeline", oracle=None, tags=("ml", "pipeline", "xgboost"))
def q_ml_xgb_pipeline(spark, sf_dir):
    """Reference R18 true-XGBoost pipeline (xgboost_pipeline/
    ModelFit.scala:39-49) on embeddings: array→vector features, the
    distributed ``xgboost.spark.SparkXGBClassifier`` with the
    reference's params mapped 1:1 (ml/jobs.py XGB_PARAMS, num_class
    adjusted to the corpus label count), fit → transform → confusion
    counts. Import-guarded: where the xgboost package is absent (this
    driver environment) the declared result falls back to the documented
    multiclass RandomForest substitute (MLlib GBT is binary-only, so RF
    is the tree-ensemble stand-in — ADVICE r3) so the schema stays stable, and the
    `backend` column records which engine trained — the driver row is
    rows-only either way (seeded tree ensembles are not
    SQL-reproducible)."""
    from pyspark.ml.functions import array_to_vector

    from ..ml.jobs import XGB_PARAMS, xgboost_available

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("double").alias("label"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    n_classes = e.agg(F.count_distinct("label")).collect()[0][0]
    if xgboost_available():
        from xgboost.spark import SparkXGBClassifier

        params = dict(XGB_PARAMS, num_class=int(n_classes))
        clf = SparkXGBClassifier(
            label_col="label", features_col="features", **params
        )
        backend = "xgboost"
    else:
        from pyspark.ml.classification import RandomForestClassifier

        # documented substitute (SURVEY §2.1 R18): multiclass RF with the
        # reference RF config — GBT is binary-only in MLlib
        clf = RandomForestClassifier(
            labelCol="label", featuresCol="features",
            numTrees=64, maxDepth=4, maxBins=64, minInfoGain=0.01, seed=42,
        )
        backend = "substitute"
    scored = clf.fit(e).transform(e)
    # VERDICT r9 #5: same mass-conservation audit as the RF twin.
    n_total = e.count()
    return (
        scored.groupBy(
            F.col("label").cast("int").alias("label"),
            F.col("prediction").cast("int").alias("prediction"),
        )
        .agg(F.count("*").alias("n"))
        .withColumn("backend", F.lit(backend))
        .withColumn(
            "invariant_ok", F.sum("n").over(W.partitionBy()) == F.lit(n_total)
        )
    )


@query(
    "q_ml_evaluator",
    # The derived prediction is a pure function of vec_id, so all four
    # weighted metrics are exact confusion-matrix arithmetic; round(…,10)
    # absorbs the 1e-16 fold-order noise of the 10-class weighted sums.
    oracle="""
    WITH pairs AS (
        SELECT CAST(label AS DOUBLE) AS label,
               CAST(CASE WHEN vec_id % 7 = 0 THEN (label + 1) % 10
                         ELSE label END AS DOUBLE) AS prediction
        FROM embeddings
    ), tot AS (SELECT COUNT(*) AS n FROM pairs),
    truec AS (SELECT label AS c, COUNT(*) AS n_true FROM pairs GROUP BY label),
    predc AS (SELECT prediction AS c, COUNT(*) AS n_pred FROM pairs GROUP BY prediction),
    tpc AS (SELECT label AS c, COUNT(*) AS tp FROM pairs WHERE label = prediction GROUP BY label),
    cls AS (
        SELECT t.c, t.n_true,
               COALESCE(p.n_pred, 0) AS n_pred,
               COALESCE(x.tp, 0) AS tp
        FROM truec t LEFT JOIN predc p ON t.c = p.c LEFT JOIN tpc x ON t.c = x.c
    ), per AS (
        SELECT c, CAST(n_true AS DOUBLE) / (SELECT n FROM tot) AS w,
               CASE WHEN n_pred = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / n_pred END AS p,
               CAST(tp AS DOUBLE) / n_true AS r
        FROM cls
    ), m AS (
        SELECT (SELECT CAST(SUM(tp) AS DOUBLE) FROM cls) / (SELECT n FROM tot) AS acc,
               SUM(w * p) AS wprec,
               SUM(w * r) AS wrec,
               SUM(w * CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END) AS wf1
        FROM per
    )
    SELECT metric, mllib, confusion_matrix, agree FROM (
        SELECT 1 AS ord, 'accuracy' AS metric, ROUND(acc, 10) AS mllib,
               ROUND(acc, 10) AS confusion_matrix, TRUE AS agree FROM m
        UNION ALL SELECT 2, 'f1', ROUND(wf1, 10), ROUND(wf1, 10), TRUE FROM m
        UNION ALL SELECT 3, 'weightedPrecision', ROUND(wprec, 10), ROUND(wprec, 10), TRUE FROM m
        UNION ALL SELECT 4, 'weightedRecall', ROUND(wrec, 10), ROUND(wrec, 10), TRUE FROM m
    )
    """,
    tags=("ml", "evaluator"),
)
def q_ml_evaluator(spark, sf_dir):
    """MulticlassClassificationEvaluator four metrics (reference R13/R14) over
    a deterministic derived (label, prediction) pair — prediction equals
    label except every 7th doc shifts one class. Cross-checks our one-job
    confusion-matrix computation (ml/metrics.py) against MLlib's
    evaluator inside the query itself."""
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    from ..ml.metrics import ModelFitMetrics

    e = t(spark, sf_dir, "embeddings").select(
        F.col("label").cast("double").alias("label"),
        F.when(F.col("vec_id") % 7 == 0, (F.col("label") + 1) % 10)
        .otherwise(F.col("label"))
        .cast("double")
        .alias("prediction"),
    )
    e = e.cache()
    ours = ModelFitMetrics.calculate(e).metrics
    rows = []
    for metric in ("accuracy", "f1", "weightedPrecision", "weightedRecall"):
        ev = MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName=metric
        )
        mllib_val = ev.evaluate(e)
        rows.append(
            (metric, round(mllib_val, 10), round(ours[metric], 10),
             abs(mllib_val - ours[metric]) < 1e-9)
        )
    e.unpersist()
    return spark.createDataFrame(
        rows, "metric string, mllib double, confusion_matrix double, agree boolean"
    )


@query("q_ml_cross_validation", oracle=None, tags=("ml", "cv"))
def q_ml_cross_validation(spark, sf_dir):
    """CrossValidator R15-R17: 2×2 grid × 3 folds, parallelism 4, accuracy
    metric, seeded — returns grid size, fold count, and best/worst mean
    accuracy. Runs on a 20% slice of embeddings to keep the 12 fits
    driver-round-friendly."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    e = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 5 == 0)
        .select(
            F.col("label").cast("double").alias("label"),
            array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        )
    )
    rf = RandomForestClassifier(labelCol="label", featuresCol="features", seed=42)
    grid = (
        ParamGridBuilder()
        .addGrid(rf.numTrees, [8, 16])
        .addGrid(rf.maxDepth, [2, 3])
        .build()
    )
    cv = CrossValidator(
        estimator=Pipeline(stages=[rf]),
        estimatorParamMaps=grid,
        evaluator=MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName="accuracy"
        ),
        numFolds=3,
        parallelism=4,
        seed=42,
    )
    cv_model = cv.fit(e)
    best = round(float(max(cv_model.avgMetrics)), 6)
    worst = round(float(min(cv_model.avgMetrics)), 6)
    best_params = cv_model.getEstimatorParamMaps()[
        int(max(range(len(grid)), key=lambda i: cv_model.avgMetrics[i]))
    ]
    best_vals = {p.name: v for p, v in best_params.items()}
    # VERDICT r9 #5 (self-auditing rows-only result): the selected model
    # must come FROM the declared grid and the accuracy metrics must be
    # coherent probabilities — a green rows-only row certifies that, not
    # just "1 row came back".
    invariant_ok = (
        len(grid) == 4
        and best_vals.get("numTrees") in (8, 16)
        and best_vals.get("maxDepth") in (2, 3)
        and 0.0 <= worst <= best <= 1.0
    )
    return spark.createDataFrame(
        [
            (
                len(grid),
                3,
                best,
                worst,
                int(best_vals.get("numTrees", -1)),
                int(best_vals.get("maxDepth", -1)),
                invariant_ok,
            )
        ],
        "n_param_maps int, n_folds int, best_avg_accuracy double, "
        "worst_avg_accuracy double, best_num_trees int, best_max_depth int, "
        "invariant_ok boolean",
    )


# ---------------------------------------------------------------------------
# Feature hashing + quantile discretization: the two MLlib featurizers
# whose semantics can be pinned exactly cross-engine.

FH_BUCKETS = 256
FH_DOC_MOD = 50  # featurize every 50th doc (keeps the declared output compact)
_HEX = "0123456789abcdef"


@query(
    "q_ml_feature_hashing",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id % {FH_DOC_MOD} = 0
    )
    SELECT doc_id,
           (strpos('{_HEX}', substr(md5(tok), 1, 1)) - 1) * 16
             + (strpos('{_HEX}', substr(md5(tok), 2, 1)) - 1) AS bucket,
           COUNT(*) AS cnt,
           COUNT(DISTINCT tok) AS n_terms
    FROM tok GROUP BY 1, 2
    """,
    tags=("ml", "feature-hashing", "training-data"),
)
def q_ml_feature_hashing(spark, sf_dir):
    """Feature hashing (the hashing trick, HashingTF semantics) with a
    cross-engine-deterministic hash: bucket = first md5 byte → 256-dim
    sparse term-frequency vectors as (doc_id, bucket, cnt) rows, plus
    the per-bucket collision width (n_terms > 1 = colliding terms).
    MLlib's HashingTF uses murmur3 — same algorithm shape, but its hash
    is JVM-private, so the declared query pins md5 (identical in every
    engine) and tests assert the MLlib twin produces the same vector
    SHAPE. Explode → hash-groupBy is one map-side-combinable shuffle;
    the hash is computed inside codegen, no UDF."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % FH_DOC_MOD == 0)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    bucket = (
        (F.expr(f"instr('{_HEX}', substring(md5(tok), 1, 1))") - 1) * 16
        + F.expr(f"instr('{_HEX}', substring(md5(tok), 2, 1))")
        - 1
    )
    return tok.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count("*").alias("cnt"),
        F.countDistinct("tok").alias("n_terms"),
    )


@query(
    "q_ml_quantile_discretizer",
    oracle="""
    WITH b AS (
        SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS q FROM orders
    )
    SELECT bucket, COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM (
        SELECT o_totalprice,
               CAST(o_totalprice > q[1] AS INT) + CAST(o_totalprice > q[2] AS INT)
                 + CAST(o_totalprice > q[3] AS INT) AS bucket
        FROM orders, b
    )
    GROUP BY bucket
    """,
    tags=("ml", "discretizer", "quantile"),
)
def q_ml_quantile_discretizer(spark, sf_dir):
    """QuantileDiscretizer semantics with EXACT quartile bounds:
    bucket(x) = #{bounds below x} — deterministic where MLlib's
    approxQuantile-backed fit is relative-error bound. The three bounds
    come from one exact percentile aggregate (driver-side 3-element
    array, same pattern as the winsorize bounds) and fold into the scan
    as literals — the bucketing pass is map-only, then one tiny
    aggregate. At 100 TB the exact percentile is the expensive step;
    swap in approx_percentile(1e-4) without touching the bucket logic."""
    o = t(spark, sf_dir, "orders")
    q1, q2, q3 = o.agg(
        F.percentile("o_totalprice", F.lit([0.25, 0.5, 0.75])).alias("q")
    ).head()[0]
    p = F.col("o_totalprice")
    bucket = (
        (p > q1).cast("int") + (p > q2).cast("int") + (p > q3).cast("int")
    )
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n"),
        F.round(F.min(p), 2).alias("lo"),
        F.round(F.max(p), 2).alias("hi"),
    )


@query(
    "q_ml_onehot",
    oracle="""
    SELECT doc_id,
           COUNT(CASE WHEN lang = 'en' THEN 1 END) AS lang_en,
           COUNT(CASE WHEN lang = 'de' THEN 1 END) AS lang_de,
           COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS lang_fr,
           COUNT(CASE WHEN lang = 'es' THEN 1 END) AS lang_es,
           COUNT(CASE WHEN lang NOT IN ('en','de','fr','es') THEN 1 END)
               AS lang_other
    FROM documents WHERE doc_id % 25 = 0
    GROUP BY doc_id
    """,
    tags=("ml", "onehot", "encoder"),
)
def q_ml_onehot(spark, sf_dir):
    """OneHotEncoder semantics as explicit indicator columns (dense
    form, fixed category vocabulary + 'other' bucket — the
    handle-invalid='keep' behavior): a map-only CASE projection, no
    fit step, no shuffle beyond the trivial per-doc group. MLlib's
    OneHotEncoder emits a sparse vector over StringIndexer output; the
    declared twin pins the same 0/1 semantics in a schema the
    cross-engine harness can hash (cf. q_ml_string_indexer for the
    index mapping itself)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    known = ("en", "de", "fr", "es")
    cols = [
        F.count(F.when(F.col("lang") == v, 1)).alias(f"lang_{v}") for v in known
    ]
    cols.append(
        F.count(F.when(~F.col("lang").isin(*known), 1)).alias("lang_other")
    )
    return d.groupBy("doc_id").agg(*cols)


@query(
    "q_ml_scaler",
    oracle="""
    WITH stats AS (
        SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*) AS mu_q,
               STDDEV_SAMP(l_quantity) AS sd_q,
               MIN(l_extendedprice) AS lo_p, MAX(l_extendedprice) AS hi_p
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           ROUND((l_quantity - mu_q) / sd_q, 6) AS qty_std,
           ROUND((l_extendedprice - lo_p) / (hi_p - lo_p), 6) AS price_minmax
    FROM lineitem CROSS JOIN stats
    WHERE l_orderkey % 50 = 0
    """,
    tags=("ml", "scaler", "feature-engineering"),
)
def q_ml_scaler(spark, sf_dir):
    """StandardScaler + MinMaxScaler semantics (MLlib's feature/
    StandardScaler, MinMaxScaler) as a fit-then-transform twin: the
    'fit' is ONE global aggregate row (mean via exact-decimal-sum /
    count, sample stddev, min/max), the 'transform' is a map-only
    projection with the stats broadcast — never a global window over
    the fact (a ``W.partitionBy()`` formulation would funnel 100 TB
    through one partition). Rounded to 6dp per the stddev discipline
    (single-pass moment algorithms agree across engines to ~1e-9
    relative). Output keyed by (orderkey, linenumber); a mod filter
    keeps the declared result driver-size while the stats still
    aggregate the FULL table.
    """
    li = t(spark, sf_dir, "lineitem")
    stats = li.agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count("*")).alias("mu_q"),
        F.stddev_samp("l_quantity").alias("sd_q"),
        F.min("l_extendedprice").alias("lo_p"),
        F.max("l_extendedprice").alias("hi_p"),
    )
    return (
        li.filter(F.col("l_orderkey") % 50 == 0)
        .crossJoin(F.broadcast(stats))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round((F.col("l_quantity") - F.col("mu_q")) / F.col("sd_q"), 6).alias(
                "qty_std"
            ),
            F.round(
                (F.col("l_extendedprice") - F.col("lo_p"))
                / (F.col("hi_p") - F.col("lo_p")),
                6,
            ).alias("price_minmax"),
        )
    )


# Lift-table score: a fixed logistic link over order value — a stand-in
# for any model score that is monotone, closed-form, and therefore
# bit-identical across engines (a fitted model's scores would force the
# weaker rows-only check; cf. q_ml_rf_pipeline).
_LIFT_DECILES = [i / 10.0 for i in range(1, 10)]


@query(
    "q_ml_lift_table",
    oracle="""
    WITH scored AS (
        SELECT 1.0 / (1.0 + EXP(-(o_totalprice - 30000.0) / 20000.0)) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        FROM orders
    ), bounds AS (
        SELECT quantile_cont(score, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
        FROM scored
    ), bucketed AS (
        SELECT 10 - len(list_filter(b.bs, x -> s.score > x)) AS decile,
               s.label
        FROM scored s CROSS JOIN bounds b
    ), per AS (
        SELECT decile, COUNT(*) AS n,
               CAST(COUNT(CASE WHEN label = 1 THEN 1 END) AS BIGINT) AS n_pos
        FROM bucketed GROUP BY decile
    )
    SELECT decile, n, n_pos,
           ROUND(CAST(n_pos AS DOUBLE) / n, 6) AS pos_rate,
           ROUND(CAST(SUM(n_pos) OVER (ORDER BY decile) AS DOUBLE)
                 / SUM(n_pos) OVER (), 6) AS cum_capture,
           ROUND((CAST(n_pos AS DOUBLE) / n)
                 / (CAST(SUM(n_pos) OVER () AS DOUBLE) / SUM(n) OVER ()), 6) AS lift
    FROM per
    """,
    tags=("ml", "lift", "calibration", "evaluation"),
)
def q_ml_lift_table(spark, sf_dir):
    """Decile lift/gains table — the model-evaluation rollup scoring
    pipelines run after batch inference (decile 1 = top scores; lift =
    decile positive rate / base rate; cum_capture = fraction of all
    positives caught by deciles 1..k). Deciles come from EXACT score
    percentiles computed as ONE aggregate row and broadcast back — a
    map-only bucketing pass, never a global-sort ``ntile`` window
    (which would funnel 100 TB through one partition; at production
    scale swap the exact percentile for approx_percentile, same plan).

    The score is a fixed logistic link over order value so both engines
    compute bit-identical doubles end-to-end; all downstream windows
    run over the 10-row decile frame.
    """
    o = t(spark, sf_dir, "orders")
    scored = o.select(
        (1.0 / (1.0 + F.exp(-(F.col("o_totalprice") - 30000.0) / 20000.0))).alias(
            "score"
        ),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    bounds = scored.agg(
        F.percentile("score", F.lit([float(q) for q in _LIFT_DECILES])).alias("bs")
    )
    bucketed = scored.crossJoin(F.broadcast(bounds)).select(
        (
            10
            - F.size(
                F.filter("bs", lambda x: F.col("score") > x)
            )
        ).alias("decile"),
        "label",
    )
    per = bucketed.groupBy("decile").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("label") == 1, 1)).alias("n_pos"),
    )
    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    return per.select(
        "decile",
        "n",
        "n_pos",
        F.round(F.col("n_pos") / F.col("n"), 6).alias("pos_rate"),
        F.round(
            F.sum("n_pos").over(w_cum) / F.sum("n_pos").over(w_all), 6
        ).alias("cum_capture"),
        F.round(
            (F.col("n_pos") / F.col("n"))
            / (F.sum("n_pos").over(w_all) / F.sum("n").over(w_all)),
            6,
        ).alias("lift"),
    )


# Binned-AUC resolution. 1000 equi-width bins over the (0,1) logistic
# score: the rank statistic is computed on the bin histogram, exact at
# bin granularity — the scalable form of exact rank-sum AUC (whose
# global rank assignment would need a full distributed sort; cf.
# q_shuffle_global for that two-phase machinery).
AUC_BINS = 1000


@query(
    "q_ml_auc",
    oracle=f"""
    WITH scored AS (
        SELECT 1.0 / (1.0 + EXP(-(o_totalprice - 30000.0) / 20000.0)) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        FROM orders
    ), binned AS (
        SELECT CAST(LEAST(FLOOR(score * {AUC_BINS}.0), {AUC_BINS - 1}) AS INT) AS bin,
               CAST(COUNT(CASE WHEN label = 1 THEN 1 END) AS BIGINT) AS n_pos,
               CAST(COUNT(CASE WHEN label = 0 THEN 1 END) AS BIGINT) AS n_neg
        FROM scored GROUP BY 1
    ), cum AS (
        SELECT n_pos, n_neg,
               SUM(n_neg) OVER (ORDER BY bin) - n_neg AS neg_below,
               SUM(n_pos) OVER () AS tot_pos, SUM(n_neg) OVER () AS tot_neg
        FROM binned
    )
    SELECT ROUND(SUM(n_pos * (neg_below + n_neg / 2.0))
                 / (MAX(tot_pos) * MAX(tot_neg)), 6) AS auc,
           CAST(MAX(tot_pos) AS BIGINT) AS n_pos_total,
           CAST(MAX(tot_neg) AS BIGINT) AS n_neg_total,
           COUNT(*) AS n_bins_hit
    FROM cum
    """,
    tags=("ml", "auc", "evaluation"),
)
def q_ml_auc(spark, sf_dir):
    """ROC-AUC via the rank-sum (Mann-Whitney U) identity on a binned
    score histogram: AUC = Σ_bins pos_b · (neg_below_b + neg_b/2) /
    (P·N) — ties within a bin contribute ½, which is exactly the
    trapezoidal ROC integral at bin granularity. One hash aggregate
    collapses any input volume to ≤{AUC_BINS} rows; the cumulative pass
    runs over that driver-size frame. This is how AUC is computed at
    100 TB — the textbook global-rank formulation needs a full
    distributed sort for ONE scalar. Closed-form logistic score keeps
    both engines bit-identical (a fitted model would force rows-only).
    """
    o = t(spark, sf_dir, "orders")
    scored = o.select(
        (1.0 / (1.0 + F.exp(-(F.col("o_totalprice") - 30000.0) / 20000.0))).alias(
            "score"
        ),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    binned = (
        scored.withColumn(
            "bin",
            F.least(F.floor(F.col("score") * float(AUC_BINS)), F.lit(AUC_BINS - 1)).cast(
                "int"
            ),
        )
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("label") == 1, 1)).alias("n_pos"),
            F.count(F.when(F.col("label") == 0, 1)).alias("n_neg"),
        )
    )
    w_cum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    cum = binned.select(
        "n_pos",
        "n_neg",
        (F.sum("n_neg").over(w_cum) - F.col("n_neg")).alias("neg_below"),
        F.sum("n_pos").over(w_all).alias("tot_pos"),
        F.sum("n_neg").over(w_all).alias("tot_neg"),
    )
    return cum.agg(
        F.round(
            F.sum(F.col("n_pos") * (F.col("neg_below") + F.col("n_neg") / 2.0))
            / (F.max("tot_pos") * F.max("tot_neg")),
            6,
        ).alias("auc"),
        F.max("tot_pos").alias("n_pos_total"),
        F.max("tot_neg").alias("n_neg_total"),
        F.count("*").alias("n_bins_hit"),
    )


# Target-encoding smoothing prior weight (the standard m-estimate).
TARGET_ENCODE_M = 20.0


@query(
    "q_ml_target_encode",
    oracle=f"""
    WITH labeled AS (
        SELECT c_mktsegment,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        FROM orders JOIN customer ON o_custkey = c_custkey
    ), prior AS (
        SELECT CAST(SUM(label) AS DOUBLE) / COUNT(*) AS p FROM labeled
    ), per_cat AS (
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(label) AS BIGINT) AS n_pos
        FROM labeled GROUP BY 1
    )
    SELECT c_mktsegment, n, n_pos,
           ROUND(CAST(n_pos AS DOUBLE) / n, 6) AS raw_rate,
           ROUND((n_pos + {TARGET_ENCODE_M} * p.p) / (n + {TARGET_ENCODE_M}), 6)
               AS encoded
    FROM per_cat CROSS JOIN prior p
    """,
    tags=("ml", "target-encoding", "feature-engineering"),
)
def q_ml_target_encode(spark, sf_dir):
    """Smoothed target encoding (m-estimate): replace a categorical
    feature with (n_pos + m·prior) / (n + m) — the shrinkage that stops
    rare categories from memorizing their few labels. The fit is one
    hash aggregate per category plus a 1-row global prior broadcast
    back; applying the encoding to a scoring set is then a broadcast
    dimension join (the per-category table is vocabulary-size). The
    leave-one-out variant subtracts the own row's label from the
    numerator/denominator — same plan, row-local arithmetic.
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    labeled = o.join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    ).select(
        "c_mktsegment",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    prior = labeled.agg(
        (F.sum("label").cast("double") / F.count("*")).alias("p")
    )
    per_cat = labeled.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), F.sum("label").cast("bigint").alias("n_pos")
    )
    m = TARGET_ENCODE_M
    return per_cat.crossJoin(F.broadcast(prior)).select(
        "c_mktsegment",
        "n",
        "n_pos",
        F.round(F.col("n_pos") / F.col("n"), 6).alias("raw_rate"),
        F.round((F.col("n_pos") + m * F.col("p")) / (F.col("n") + m), 6).alias(
            "encoded"
        ),
    )


@query(
    "q_ml_pit_features",
    oracle="""
    WITH spend AS (
        SELECT user_id,
               CAST(epoch(CAST(ts AS DATE) + INTERVAL 1 DAY) AS BIGINT) AS snap_s,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_spend
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ), clicks AS (
        SELECT user_id,
               CAST(epoch(CAST(ts AS DATE) + INTERVAL 1 DAY) AS BIGINT) AS snap_s,
               COUNT(*) AS day_clicks
        FROM events WHERE event_type = 'click'
        GROUP BY 1, 2
    ), probes AS (
        SELECT event_id, user_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts_s,
           s.day_spend AS f_spend,
           c.day_clicks AS f_clicks
    FROM probes p
    ASOF LEFT JOIN spend s
         ON p.user_id = s.user_id AND p.ts_s >= s.snap_s
    ASOF LEFT JOIN clicks c
         ON p.user_id = c.user_id AND p.ts_s >= c.snap_s
    """,
    tags=("ml", "feature-store", "pit", "asof"),
)
def q_ml_pit_features(spark, sf_dir):
    """Point-in-time-correct feature join — the feature-store primitive:
    each scoring event picks up, from EACH feature table, the latest
    snapshot whose availability time is ≤ the event time. Snapshots
    become available at the NEXT midnight after their day (a feature
    computed over Tuesday is usable from Wednesday 00:00) — the
    leakage rule that separates a feature store from a plain join;
    events on a user's first purchase day get NULL features, not a
    peek at same-day data.

    Scale shape: each feature attach is one ``asof_join``
    (operators/asof.py): union on the (user, time) spine + a single
    keyed window — one shuffle per feature table, all on the SAME
    user_id key, so AQE co-partitions the chain. The oracle states the
    same semantics as DuckDB ASOF LEFT JOINs; the Spark plan is the
    linear merge-scan formulation, not the oracle's correlated probe.
    """
    from ..operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    next_midnight = F.unix_timestamp(
        F.date_add(F.to_date("ts"), 1).cast("timestamp")
    )
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", next_midnight.alias("ts_s"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("day_spend")
        )
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", next_midnight.alias("ts_s"))
        .agg(F.count("*").alias("day_clicks"))
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ts_s")
    )
    with_spend = asof_join(
        probes, spend, on="user_id", ts="ts_s", payload="day_spend", alias="f_spend"
    )
    return asof_join(
        with_spend,
        clicks,
        on="user_id",
        ts="ts_s",
        payload="day_clicks",
        alias="f_clicks",
    )


NDCG_K = 100


@query(
    "q_ml_ndcg",
    oracle=f"""
    WITH scored AS (
        SELECT o_orderkey,
               1.0 / (1.0 + EXP(-(o_totalprice - 30000.0) / 20000.0)) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        FROM orders
    ), topk AS (
        SELECT label,
               ROW_NUMBER() OVER (ORDER BY score DESC, o_orderkey) AS pos
        FROM scored
        ORDER BY score DESC, o_orderkey LIMIT {NDCG_K}
    ), ideal AS (
        SELECT label,
               ROW_NUMBER() OVER (ORDER BY label DESC, o_orderkey) AS pos
        FROM (SELECT label, o_orderkey FROM scored
              ORDER BY label DESC, o_orderkey LIMIT {NDCG_K})
    )
    SELECT ROUND((SELECT SUM(label / LOG2(pos + 1.0)) FROM topk)
                 / (SELECT SUM(label / LOG2(pos + 1.0)) FROM ideal), 6) AS ndcg_at_k,
           (SELECT CAST(SUM(label) AS BIGINT) FROM topk) AS hits_in_topk,
           {NDCG_K} AS k
    """,
    tags=("ml", "ndcg", "ranking", "evaluation"),
)
def q_ml_ndcg(spark, sf_dir):
    """NDCG@{NDCG_K} — the ranking-quality metric for scored retrieval:
    DCG of the model's top-K (binary gains, log2 position discount)
    normalized by the ideal ordering's DCG. Both top-Ks come from
    TakeOrderedAndProject with unique tiebreaks (score then key; label
    then key) — a distributed top-K heap, never a global sort — and the
    position-discount arithmetic runs over the K-row frames. The same
    closed-form logistic score as q_ml_auc keeps it hash-checkable;
    with a real ranker only the score column changes.
    """
    o = t(spark, sf_dir, "orders")
    scored = o.select(
        "o_orderkey",
        (1.0 / (1.0 + F.exp(-(F.col("o_totalprice") - 30000.0) / 20000.0))).alias(
            "score"
        ),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    topk = (
        scored.orderBy(F.col("score").desc(), "o_orderkey")
        .limit(NDCG_K)
        .select(
            "label",
            F.row_number()
            .over(W.orderBy(F.col("score").desc(), "o_orderkey"))
            .alias("pos"),
        )
    )
    ideal = (
        scored.orderBy(F.col("label").desc(), "o_orderkey")
        .limit(NDCG_K)
        .select(
            "label",
            F.row_number()
            .over(W.orderBy(F.col("label").desc(), "o_orderkey"))
            .alias("pos"),
        )
    )
    disc = F.col("label") / F.log2(F.col("pos") + 1.0)
    dcg = topk.agg(
        F.sum(disc).alias("dcg"), F.sum("label").cast("bigint").alias("hits")
    )
    idcg = ideal.agg(F.sum(disc).alias("idcg"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_k"),
            F.col("hits").alias("hits_in_topk"),
            F.lit(NDCG_K).alias("k"),
        )
    )


@query("q_ml_kmeans", oracle=None, tags=("ml", "kmeans", "clustering"))
def q_ml_kmeans(spark, sf_dir):
    """KMeans clustering over the embedding corpus, declared as a
    first-class query (the IVF ANN index uses the same fit internally —
    operators/similarity.py — but clustering is its own workload:
    segmentation, vector-quantization codebooks, topic discovery).
    Seeded fit → per-cluster sizes + inertia (within-cluster sum of
    squared distances). Rows-only: MLlib's k-means|| initialization is
    seed-deterministic inside one engine but not reproducible in SQL.

    Scale shape: MLlib KMeans is the distributed Lloyd's loop — each
    iteration is one broadcast of k×dim centroids + one map-side
    assignment + one combinable per-cluster mean; cost k·dim·n per
    round, no pairwise joins. The assignment output here reuses the
    fitted model's transform (map-only)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    # ADVICE r11 #5: one constant for both the fit and the invariant's
    # cluster-count check, so the two can never silently drift apart.
    k = 8
    km = KMeans(k=k, seed=42, maxIter=20, featuresCol="features")
    model = km.fit(emb)
    cost = float(model.summary.trainingCost)
    n_total = emb.count()
    assigned = model.transform(emb)
    sizes = assigned.groupBy(F.col("prediction").alias("cluster")).agg(
        F.count("*").alias("n_vectors")
    )
    # VERDICT r9 #5 (self-auditing rows-only result): the cluster sizes
    # must PARTITION the corpus (sum == row count, every cluster
    # non-empty) — the 8-row window is driver-scale. ADVICE r10 #2: the
    # old `n_vectors > 0` was tautological on groupBy output (an empty
    # cluster produces no row); "every cluster non-empty" is certified
    # by counting the emitted cluster rows themselves against k.
    mass = F.sum("n_vectors").over(W.partitionBy())
    n_clusters = F.count("*").over(W.partitionBy())
    return sizes.select(
        "cluster",
        "n_vectors",
        F.round(F.lit(cost), 4).alias("inertia_total"),
        ((mass == F.lit(n_total)) & (n_clusters == F.lit(k))).alias("invariant_ok"),
    )


KNN_K = 5
KNN_PROBE_MOD = 20


@query(
    "q_ml_knn_classifier",
    oracle=f"""
    WITH probes AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings WHERE vec_id % {KNN_PROBE_MOD} = 0
    ), corpus AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings WHERE vec_id % {KNN_PROBE_MOD} <> 0
    ), pairs AS (
        SELECT p.vec_id AS pid, p.label AS true_label,
               c.vec_id AS cid, c.label AS nlabel,
               list_dot_product(p.e, c.e) / (p.nrm * c.nrm) AS cos
        FROM probes p, corpus c
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY pid
                                     ORDER BY cos DESC, cid) AS rk
        FROM pairs
    ), votes AS (
        SELECT pid, true_label, nlabel, COUNT(*) AS c
        FROM ranked WHERE rk <= {KNN_K} GROUP BY 1, 2, 3
    ), pred AS (
        SELECT pid, true_label, nlabel AS pred_label,
               ROW_NUMBER() OVER (PARTITION BY pid
                                  ORDER BY c DESC, nlabel) AS vr
        FROM votes
    )
    SELECT true_label, COUNT(*) AS n_probes,
           COUNT(CASE WHEN pred_label = true_label THEN 1 END) AS n_correct,
           ROUND(CAST(COUNT(CASE WHEN pred_label = true_label THEN 1 END) AS DOUBLE)
                 / COUNT(*), 6) AS accuracy
    FROM pred WHERE vr = 1
    GROUP BY true_label
    """,
    tags=("ml", "knn", "classifier", "similarity"),
)
def q_ml_knn_classifier(spark, sf_dir):
    """kNN classification end-to-end, hash-checked: every {KNN_PROBE_MOD}th
    vector is held out and classified by majority label of its {KNN_K}
    nearest corpus neighbors (exact cosine), reported as per-class
    accuracy — the non-parametric baseline every embedding-quality
    evaluation starts from, and a declared eval the seeded-MLlib
    pipelines (rows-only) can't give the driver. Vote AND rank ties
    break deterministically (neighbor id, then smaller label); both
    engines accumulate the dot products in index order over doubles, so
    the ranking is bit-stable.

    Scale shape: probes broadcast into a map-side cosine scan of the
    corpus (probes ≪ corpus — the q_sim_knn_all regime, which swaps in
    the block-GEMM kernel when the probe set grows); each side's norm is
    projected BEFORE the pair join (cosine_prenorm — per-pair work is
    one array fold, not three; hoisting sqrt(dot(x,x)) is bit-identical
    to computing it per pair, so the oracle hash is unchanged); the
    top-{KNN_K} window runs per probe after a WindowGroupLimit
    pre-truncation, and the vote/accuracy rollups are
    probe-count-sized."""
    from ..functions.similarity import cosine_prenorm, l2_norm
    from ._util import guard_quadratic_audit

    e = t(spark, sf_dir, "embeddings")
    # VERDICT r9 #6: this is the quadratic audit twin — refuse corpora
    # past the cap, pointing at the routed sibling (construction-time
    # count ⇒ registered in _DEFER_CONSTRUCTION).
    guard_quadratic_audit(e.count(), "q_ml_knn_classifier", "q_ml_knn_classifier_ivf")
    probes = e.filter(F.col("vec_id") % KNN_PROBE_MOD == 0).select(
        F.col("vec_id").alias("pid"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("pe"),
        l2_norm(F.col("embedding")).alias("pn"),
    )
    # repartition: the one-file fixture scan is a single task, which would
    # serialize the pairwise fold (cf. q_dedup_minhash — a no-op cost at
    # real scale, where the corpus arrives in many splits).
    corpus = e.filter(F.col("vec_id") % KNN_PROBE_MOD != 0).repartition(
        32, "vec_id"
    ).select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("ce"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    pairs = corpus.crossJoin(F.broadcast(probes)).select(
        "pid",
        "true_label",
        "cid",
        "nlabel",
        cosine_prenorm(
            F.col("pe"), F.col("ce"), F.col("pn"), F.col("cn")
        ).alias("cos"),
    )
    topk = (
        pairs.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("pid").orderBy(F.col("cos").desc(), "cid")
            ),
        )
        .filter(F.col("rk") <= KNN_K)
    )
    votes = topk.groupBy("pid", "true_label", "nlabel").agg(F.count("*").alias("c"))
    pred = votes.withColumn(
        "vr",
        F.row_number().over(
            W.partitionBy("pid").orderBy(F.col("c").desc(), "nlabel")
        ),
    ).filter(F.col("vr") == 1)
    return pred.groupBy("true_label").agg(
        F.count("*").alias("n_probes"),
        F.count(F.when(F.col("nlabel") == F.col("true_label"), 1)).alias("n_correct"),
        F.round(
            F.count(F.when(F.col("nlabel") == F.col("true_label"), 1)) / F.count("*"),
            6,
        ).alias("accuracy"),
    )


# Reliability-curve resolution: 10 equi-width score bins is the standard
# calibration-plot granularity; like AUC_BINS it collapses any input
# volume to a driver-size frame in one hash aggregate.
CAL_BINS = 10


@query(
    "q_ml_calibration",
    oracle=f"""
    WITH scored AS (
        SELECT 1.0 / (1.0 + EXP(-(o_totalprice - 30000.0) / 20000.0)) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        FROM orders
    )
    SELECT CAST(LEAST(FLOOR(score * {CAL_BINS}.0), {CAL_BINS - 1}) AS INT)
               AS bin,
           COUNT(*) AS n,
           ROUND(AVG(score), 6) AS mean_score,
           ROUND(AVG(CAST(label AS DOUBLE)), 6) AS pos_rate,
           ROUND(AVG((score - label) * (score - label)), 6) AS brier_bin
    FROM scored
    GROUP BY 1
    """,
    tags=("ml", "calibration", "evaluation"),
)
def q_ml_calibration(spark, sf_dir):
    """Calibration reliability curve + per-bin Brier score: bucket the
    predicted probability into CAL_BINS equi-width bins and compare
    mean predicted probability against the observed positive rate —
    the gap per bin IS the calibration error (ECE is its n-weighted
    sum). One partial+final hash aggregate collapses any input volume
    to ≤CAL_BINS rows; nothing sorts, nothing shuffles more than the
    bin keys, so the plan is identical at 100 TB. Same closed-form
    logistic score as q_ml_auc so both engines stay bit-identical."""
    scored = t(spark, sf_dir, "orders").select(
        (1.0 / (1.0 + F.exp(-(F.col("o_totalprice") - 30000.0) / 20000.0))).alias(
            "score"
        ),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    return (
        scored.withColumn(
            "bin",
            F.least(
                F.floor(F.col("score") * float(CAL_BINS)), F.lit(CAL_BINS - 1)
            ).cast("int"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("score"), 6).alias("mean_score"),
            F.round(F.avg(F.col("label").cast("double")), 6).alias("pos_rate"),
            F.round(
                F.avg(
                    (F.col("score") - F.col("label"))
                    * (F.col("score") - F.col("label"))
                ),
                6,
            ).alias("brier_bin"),
        )
    )


@query(
    "q_ml_pr_auc",
    oracle=f"""
    WITH scored AS (
        SELECT 1.0 / (1.0 + EXP(-(o_totalprice - 30000.0) / 20000.0)) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        FROM orders
    ), binned AS (
        SELECT CAST(LEAST(FLOOR(score * 1000.0), 999) AS INT) AS bin,
               CAST(COUNT(CASE WHEN label = 1 THEN 1 END) AS BIGINT) AS n_pos,
               CAST(COUNT(CASE WHEN label = 0 THEN 1 END) AS BIGINT) AS n_neg
        FROM scored GROUP BY 1
    ), cum AS (
        SELECT SUM(n_pos) OVER (ORDER BY bin DESC) AS tp,
               SUM(n_neg) OVER (ORDER BY bin DESC) AS fp,
               SUM(n_pos) OVER () AS p, SUM(n_neg) OVER () AS neg
        FROM binned
    ), pts AS (
        SELECT CAST(tp AS DOUBLE) / (tp + fp) AS prec,
               CAST(tp AS DOUBLE) / p AS rec,
               COALESCE(LAG(CAST(tp AS DOUBLE) / (tp + fp))
                        OVER (ORDER BY rec), 1.0) AS prev_prec,
               COALESCE(LAG(CAST(tp AS DOUBLE) / p) OVER (ORDER BY rec), 0.0)
                   AS prev_rec,
               p, neg
        FROM cum
    )
    SELECT ROUND(SUM((rec - prev_rec) * (prec + prev_prec) / 2.0), 6) AS pr_auc,
           ROUND(CAST(MAX(p) AS DOUBLE) / (MAX(p) + MAX(neg)), 6) AS prevalence,
           COUNT(*) AS n_bins_hit
    FROM pts
    """,
    tags=("ml", "pr-auc", "evaluation"),
)
def q_ml_pr_auc(spark, sf_dir):
    """Precision-recall AUC (trapezoidal over the PR curve, anchored at
    recall 0 / precision 1) on the same 1000-bin score histogram as
    q_ml_auc — the metric that actually discriminates classifiers under
    class imbalance, where ROC-AUC saturates. One hash aggregate
    collapses any input volume to ≤1000 (bin, n_pos, n_neg) rows; the
    cumulative TP/FP sweep, precision/recall points, and trapezoid sum
    all run over that driver-size frame, so there is no global sort of
    raw rows at any scale. Prevalence is reported alongside because
    PR-AUC is only interpretable against it."""
    scored = t(spark, sf_dir, "orders").select(
        (1.0 / (1.0 + F.exp(-(F.col("o_totalprice") - 30000.0) / 20000.0))).alias(
            "score"
        ),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    binned = (
        scored.withColumn(
            "bin",
            F.least(F.floor(F.col("score") * 1000.0), F.lit(999)).cast("int"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("label") == 1, 1)).alias("n_pos"),
            F.count(F.when(F.col("label") == 0, 1)).alias("n_neg"),
        )
    )
    w_desc = W.orderBy(F.col("bin").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.partitionBy()
    cum = binned.select(
        F.sum("n_pos").over(w_desc).alias("tp"),
        F.sum("n_neg").over(w_desc).alias("fp"),
        F.sum("n_pos").over(w_all).alias("p"),
        F.sum("n_neg").over(w_all).alias("neg"),
    )
    pts = cum.select(
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias("prec"),
        (F.col("tp").cast("double") / F.col("p")).alias("rec"),
        "p",
        "neg",
    )
    w_rec = W.orderBy("rec")
    pts = pts.select(
        "prec",
        "rec",
        F.coalesce(F.lag("prec").over(w_rec), F.lit(1.0)).alias("prev_prec"),
        F.coalesce(F.lag("rec").over(w_rec), F.lit(0.0)).alias("prev_rec"),
        "p",
        "neg",
    )
    return pts.agg(
        F.round(
            F.sum(
                (F.col("rec") - F.col("prev_rec"))
                * (F.col("prec") + F.col("prev_prec"))
                / 2.0
            ),
            6,
        ).alias("pr_auc"),
        F.round(
            F.max("p").cast("double") / (F.max("p") + F.max("neg")), 6
        ).alias("prevalence"),
        F.count("*").alias("n_bins_hit"),
    )


@query("q_ml_pca", oracle=None, tags=("ml", "pca", "dimensionality-reduction"))
def q_ml_pca(spark, sf_dir):
    """PCA over the embedding corpus (MLlib PCA estimator, k=8): the
    dimensionality-reduction step in front of clustering/visualization
    and a cheap drift fingerprint (component drift ⇒ distribution
    shift). MLlib computes the d×d covariance distributively (one
    treeAggregate of outer products — n·d² map work, d² reduce) and
    eigen-decomposes the tiny d×d matrix on the driver, so corpus size
    only affects the single aggregate pass; the projection is a
    broadcast d×k matmul (map-only). Output: per-component explained
    variance ratio plus the sample variance of the projected coordinate,
    whose agreement with the eigenvalue is asserted in tests (rows-only:
    eigenvector sign/order conventions aren't SQL-reproducible).
    """
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    K = 8
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    model = PCA(k=K, inputCol="features", outputCol="pc").fit(emb)
    evr = [float(v) for v in model.explainedVariance]
    proj = model.transform(emb).select(vector_to_array("pc").alias("p"))
    per_comp = proj.select(
        *[F.col("p")[i].alias(f"c{i}") for i in range(K)]
    ).agg(*[F.var_samp(f"c{i}").alias(f"v{i}") for i in range(K)])
    row = per_comp.collect()[0]
    pv = [float(row[f"v{i}"]) for i in range(K)]
    # VERDICT r9 #5 (self-auditing rows-only result): the projected
    # variance must be internally consistent with the model's own
    # eigen-ratios (pv_i/pv_0 == evr_i/evr_0 — both equal eig_i/eig_0)
    # and nonincreasing in component order; a green rows-only driver row
    # then certifies the identity, not just "8 rows came back".
    out = [
        (
            i,
            round(evr[i], 6),
            round(pv[i], 6),
            abs(evr[i] * pv[0] - pv[i] * evr[0]) <= 1e-4 * max(pv[0], 1e-12)
            and (i == 0 or pv[i] <= pv[i - 1] * (1 + 1e-9)),
        )
        for i in range(K)
    ]
    return spark.createDataFrame(
        out,
        "component int, explained_var_ratio double, proj_var double, "
        "invariant_ok boolean",
    )


@query(
    "q_ml_naive_bayes",
    oracle="""
    WITH base AS (
        SELECT o_orderstatus AS label, o_orderpriority AS f1,
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) % 7 AS BIGINT) AS f2
        FROM orders
    ), joint AS (
        SELECT label, f1, f2, COUNT(*) AS n FROM base GROUP BY 1, 2, 3
    ), nc AS (SELECT label, CAST(SUM(n) AS BIGINT) AS n_c FROM joint GROUP BY 1),
    n1 AS (SELECT label, f1, CAST(SUM(n) AS BIGINT) AS n_1 FROM joint GROUP BY 1, 2),
    n2 AS (SELECT label, f2, CAST(SUM(n) AS BIGINT) AS n_2 FROM joint GROUP BY 1, 2),
    v AS (SELECT COUNT(DISTINCT f1) AS v1, COUNT(DISTINCT f2) AS v2 FROM base),
    combos AS (SELECT DISTINCT f1, f2 FROM base),
    scored AS (
        SELECT c.f1, c.f2, nc.label,
               CAST(nc.n_c AS HUGEINT) * (COALESCE(n1.n_1, 0) + 1)
                   * (COALESCE(n2.n_2, 0) + 1) AS a,
               CAST(nc.n_c + v.v1 AS HUGEINT) * (nc.n_c + v.v2) AS b
        FROM combos c CROSS JOIN nc CROSS JOIN v
        LEFT JOIN n1 ON n1.label = nc.label AND n1.f1 = c.f1
        LEFT JOIN n2 ON n2.label = nc.label AND n2.f2 = c.f2
    ), wins AS (
        SELECT s1.f1, s1.f2, s1.label
        FROM scored s1 JOIN scored s2
          ON s1.f1 = s2.f1 AND s1.f2 = s2.f2 AND s1.label <> s2.label
        WHERE s1.a * s2.b > s2.a * s1.b
           OR (s1.a * s2.b = s2.a * s1.b AND s1.label < s2.label)
        GROUP BY 1, 2, 3
        HAVING COUNT(*) = (SELECT COUNT(*) FROM nc) - 1
    )
    SELECT b.label AS actual, w.label AS predicted, COUNT(*) AS n
    FROM base b JOIN wins w ON b.f1 = w.f1 AND b.f2 = w.f2
    GROUP BY 1, 2
    """,
    tags=("ml", "naive-bayes", "classifier", "exact-arithmetic"),
)
def q_ml_naive_bayes(spark, sf_dir):
    """Categorical Naive Bayes as EXACT relational algebra: train
    (Laplace-smoothed class-conditional counts for order priority and
    day-of-week) and predict (argmax posterior) without ever comparing
    floats — posteriors are rationals a/b of integer count products, and
    the argmax is decided by cross-multiplied integer comparisons
    (decimal/int128 exact in both engines; score magnitudes ≤ ~1e34 at
    driver SFs), ties broken by label order. That is what makes a
    classifier hash-checkable: a log-space argmax flips on last-ulp libm
    differences; integers never do. Scoring happens on the tiny
    (|f1|·|f2| combos × classes) table — the fact contributes two hash
    aggregates (train counts, confusion matrix) and a broadcast
    prediction join; day-of-week derives from epoch-day % 7 so the
    calendar is engine-exact. Output: resubstitution confusion matrix."""
    return _nb_confusion(spark, sf_dir)


def _nb_confusion(spark, sf_dir):
    """Exact-integer Naive Bayes confusion matrix, shared by
    q_ml_naive_bayes and q_ml_class_metrics (ADVICE r2: class_metrics
    previously re-invoked the registry entry, running NB twice per pass).

    Exactness bound: every posterior comparison is a product of five
    decimal(6,0) factors (≤ 34 digits, inside Spark's decimal(38) — the
    max exact width for a 5-factor product, since 5·p + 4 ≤ 38 forces
    p ≤ 6). With ANSI off a factor ≥ 1e6 would overflow to NULL
    *silently*, dropping predictions (ADVICE r2) — so the scale cliff is
    made LOUD: we assert max(n_c) + max(v1, v2) < 1e6 (holds through
    ~sf5; beyond that use a log-space argmax variant, which trades
    hash-exactness for scale). The guard rides ONE build-time action
    whose every branch derives from the `joint` aggregate (shared
    exchange under AQE — no second fact scan; the r3 version's separate
    count_distinct-over-orders subtree cost +27% same-host, VERDICT r3
    "What's wrong" #3), and the collected k/v1/v2 flow into the scoring
    plan as LITERALS, which also removes the crossJoin(v) fact-scan
    subtree from the main action."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("label"),
        F.col("o_orderpriority").alias("f1"),
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")) % 7
        )
        .cast("long")
        .alias("f2"),
    )
    joint = o.groupBy("label", "f1", "f2").agg(F.count("*").alias("n"))
    nc = joint.groupBy("label").agg(F.sum("n").alias("n_c"))
    n1 = joint.groupBy("label", "f1").agg(F.sum("n").alias("n_1"))
    n2 = joint.groupBy("label", "f2").agg(F.sum("n").alias("n_2"))
    # ONE tiny-aggregate collect (replaces the former bare nc.count()):
    # every branch — class stats AND the vocabulary sizes — derives from
    # the same `joint` aggregate, so the action runs one fact scan whose
    # exchange the branches share; v1/v2 over joint equal v1/v2 over the
    # base rows because grouping preserves the distinct f1/f2 sets.
    stats = (
        nc.agg(F.count("*").alias("k"), F.max("n_c").alias("max_nc"))
        .crossJoin(
            joint.agg(
                F.count_distinct("f1").alias("v1"),
                F.count_distinct("f2").alias("v2"),
            )
        )
        .collect()[0]
    )
    bound = int(stats["max_nc"]) + max(int(stats["v1"]), int(stats["v2"]))
    if bound >= 1_000_000:
        raise ValueError(
            "q_ml_naive_bayes exact-decimal argmax overflows decimal(38) "
            f"when max class count + vocabulary >= 1e6 (got {bound}); "
            "use a log-space argmax variant at this scale"
        )
    n_classes = int(stats["k"])
    v1, v2 = int(stats["v1"]), int(stats["v2"])

    combos = joint.select("f1", "f2").distinct()
    d6 = "decimal(6,0)"
    scored = (
        combos.crossJoin(F.broadcast(nc))
        .join(F.broadcast(n1), ["label", "f1"], "left")
        .join(F.broadcast(n2), ["label", "f2"], "left")
        .select(
            "f1",
            "f2",
            "label",
            (
                F.col("n_c").cast(d6)
                * (F.coalesce("n_1", F.lit(0)) + 1).cast(d6)
                * (F.coalesce("n_2", F.lit(0)) + 1).cast(d6)
            ).alias("a"),
            (
                (F.col("n_c") + F.lit(v1)).cast(d6)
                * (F.col("n_c") + F.lit(v2)).cast(d6)
            ).alias("b"),
        )
    )
    s1 = scored.select(
        "f1", "f2", F.col("label").alias("l1"), F.col("a").alias("a1"), F.col("b").alias("b1")
    )
    s2 = scored.select(
        "f1", "f2", F.col("label").alias("l2"), F.col("a").alias("a2"), F.col("b").alias("b2")
    )
    wins = (
        s1.join(s2, ["f1", "f2"])
        .filter(F.col("l1") != F.col("l2"))
        .filter(
            (F.col("a1") * F.col("b2") > F.col("a2") * F.col("b1"))
            | (
                (F.col("a1") * F.col("b2") == F.col("a2") * F.col("b1"))
                & (F.col("l1") < F.col("l2"))
            )
        )
        .groupBy("f1", "f2", "l1")
        .agg(F.count("*").alias("n_wins"))
        .filter(F.col("n_wins") == n_classes - 1)
        .select("f1", "f2", F.col("l1").alias("predicted"))
    )
    return (
        o.join(F.broadcast(wins), ["f1", "f2"])
        .groupBy(F.col("label").alias("actual"), "predicted")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_ml_linreg_normal",
    oracle="""
    WITH per_order AS (
        SELECT l.l_orderkey,
               CAST(MAX(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS DOUBLE) AS y,
               CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,0))) AS BIGINT)
                    AS DOUBLE) AS x1,
               CAST(COUNT(*) AS DOUBLE) AS x2
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
    ), s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
               SUM(x1 * x1) AS sx11, SUM(x2 * x2) AS sx22,
               SUM(x1 * x2) AS sx12,
               SUM(x1 * y) AS sx1y, SUM(x2 * y) AS sx2y, SUM(y * y) AS syy
        FROM per_order
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           ROUND((sy * (sx11 * sx22 - sx12 * sx12)
                  - sx1 * (sx1y * sx22 - sx12 * sx2y)
                  + sx2 * (sx1y * sx12 - sx11 * sx2y))
                 / (n * (sx11 * sx22 - sx12 * sx12)
                    - sx1 * (sx1 * sx22 - sx12 * sx2)
                    + sx2 * (sx1 * sx12 - sx11 * sx2)), 4) AS beta0,
           ROUND((n * (sx1y * sx22 - sx12 * sx2y)
                  - sy * (sx1 * sx22 - sx12 * sx2)
                  + sx2 * (sx1 * sx2y - sx1y * sx2))
                 / (n * (sx11 * sx22 - sx12 * sx12)
                    - sx1 * (sx1 * sx22 - sx12 * sx2)
                    + sx2 * (sx1 * sx12 - sx11 * sx2)), 4) AS beta1,
           ROUND((n * (sx11 * sx2y - sx1y * sx12)
                  - sx1 * (sx1 * sx2y - sx1y * sx2)
                  + sy * (sx1 * sx12 - sx11 * sx2))
                 / (n * (sx11 * sx22 - sx12 * sx12)
                    - sx1 * (sx1 * sx22 - sx12 * sx2)
                    + sx2 * (sx1 * sx12 - sx11 * sx2)), 4) AS beta2
    FROM s
    """,
    tags=("ml", "linear-regression", "normal-equations", "closed-form"),
)
def q_ml_linreg_normal(spark, sf_dir):
    """Multivariate linear regression (order total regressed on total
    quantity and line count) solved in CLOSED FORM via the normal
    equations and Cramer's rule — the distributed-OLS shape for small
    feature counts: ONE aggregate pass collects the 10 sufficient
    statistics (n, Σx, ΣxxT, Σxy, Σy²), and the 3×3 solve happens on a
    1-row frame. No gradient iterations, no MLlib fit — the exact same
    number MLlib's 'normal' solver would produce. Sufficient statistics
    are sums of integer-valued doubles (exact), and the determinant
    expressions are written with IDENTICAL structure in Spark and the
    oracle so the IEEE evaluation is bit-identical before the 4dp
    round. The per-order collapse is one orderkey shuffle; everything
    after is driver-scale."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", (dec("o_totalprice") * 100).cast("long").alias("y_cents")
    )
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.max("y_cents").cast("double").alias("y"),
            F.sum(dec("l_quantity", 18, 0)).cast("long").cast("double").alias("x1"),
            F.count("*").cast("double").alias("x2"),
        )
    )
    s = per_order.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx1, sx2, sy = F.col("n"), F.col("sx1"), F.col("sx2"), F.col("sy")
    sx11, sx22, sx12 = F.col("sx11"), F.col("sx22"), F.col("sx12")
    sx1y, sx2y = F.col("sx1y"), F.col("sx2y")
    det = (
        n * (sx11 * sx22 - sx12 * sx12)
        - sx1 * (sx1 * sx22 - sx12 * sx2)
        + sx2 * (sx1 * sx12 - sx11 * sx2)
    )
    d0 = (
        sy * (sx11 * sx22 - sx12 * sx12)
        - sx1 * (sx1y * sx22 - sx12 * sx2y)
        + sx2 * (sx1y * sx12 - sx11 * sx2y)
    )
    d1 = (
        n * (sx1y * sx22 - sx12 * sx2y)
        - sy * (sx1 * sx22 - sx12 * sx2)
        + sx2 * (sx1 * sx2y - sx1y * sx2)
    )
    d2 = (
        n * (sx11 * sx2y - sx1y * sx12)
        - sx1 * (sx1 * sx2y - sx1y * sx2)
        + sy * (sx1 * sx12 - sx11 * sx2)
    )
    return s.select(
        n.cast("long").alias("n_orders"),
        F.round(d0 / det, 4).alias("beta0"),
        F.round(d1 / det, 4).alias("beta1"),
        F.round(d2 / det, 4).alias("beta2"),
    )


@query(
    "q_ml_info_gain",
    oracle="""
    WITH base AS (
        SELECT o_orderstatus AS label,
               o_orderpriority AS priority,
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) % 7 AS VARCHAR) AS dow,
               CAST(date_part('month', CAST(o_orderdate AS TIMESTAMP)) AS VARCHAR)
                   AS month,
               CAST(o_custkey % 10 AS VARCHAR) AS custbucket
        FROM orders
    ), long AS (
        SELECT label, 'priority' AS feature, priority AS val FROM base
        UNION ALL SELECT label, 'dow', dow FROM base
        UNION ALL SELECT label, 'month', month FROM base
        UNION ALL SELECT label, 'custbucket', custbucket FROM base
    ), joint AS (
        SELECT feature, val, label, COUNT(*) AS n FROM long GROUP BY 1, 2, 3
    ), vtot AS (
        SELECT feature, val, CAST(SUM(n) AS DOUBLE) AS nv FROM joint GROUP BY 1, 2
    ), ftot AS (
        SELECT feature, CAST(SUM(n) AS DOUBLE) AS nf FROM joint GROUP BY 1
    ), ltot AS (
        SELECT feature, label, CAST(SUM(n) AS DOUBLE) AS nl FROM joint GROUP BY 1, 2
    ), hlabel AS (
        SELECT l.feature, -SUM((nl / nf) * LN(nl / nf)) AS h
        FROM ltot l JOIN ftot USING (feature) GROUP BY 1
    ), hcond AS (
        SELECT j.feature,
               -SUM((j.n / nf) * LN(j.n / nv)) AS hc,
               COUNT(DISTINCT j.val) AS n_values
        FROM joint j JOIN vtot USING (feature, val) JOIN ftot USING (feature)
        GROUP BY 1
    )
    SELECT h.feature,
           CAST(n_values AS BIGINT) AS n_values,
           ROUND(h.h - c.hc, 6) AS info_gain_nats,
           ROUND((h.h - c.hc) / h.h, 6) AS ig_ratio
    FROM hlabel h JOIN hcond c USING (feature)
    """,
    tags=("ml", "information-gain", "feature-selection"),
)
def q_ml_info_gain(spark, sf_dir):
    """Information-gain feature ranking — IG(label; f) = H(label) −
    H(label|f) for four candidate features in ONE pass: the base frame
    unpivots to (feature, value, label) so a single hash aggregate
    builds every contingency table at once (the same unpivot fan-out
    discipline as q_dq_drift_features), and the entropy algebra runs on
    the tiny (feature × value × label) frame. This is the screen a
    decision-tree/feature-store pipeline runs to drop dead features
    before any training; IG ratio (gain / label entropy) normalizes
    across features. All terms are integer-ratio logs over ≤ ~40 cells
    per feature, rounded 6dp."""
    o = t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderstatus").alias("label"),
        F.col("o_orderpriority").alias("priority"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            % 7
        )
        .cast("string")
        .alias("dow"),
        F.month(F.col("o_orderdate").cast("timestamp")).cast("string").alias("month"),
        (F.col("o_custkey") % 10).cast("string").alias("custbucket"),
    )
    long = base.unpivot(
        ids=["label"],
        values=["priority", "dow", "month", "custbucket"],
        variableColumnName="feature",
        valueColumnName="val",
    )
    joint = long.groupBy("feature", "val", "label").agg(F.count("*").alias("n"))
    vtot = joint.groupBy("feature", "val").agg(
        F.sum("n").cast("double").alias("nv")
    )
    ftot = joint.groupBy("feature").agg(F.sum("n").cast("double").alias("nf"))
    ltot = joint.groupBy("feature", "label").agg(
        F.sum("n").cast("double").alias("nl")
    )
    hlabel = (
        ltot.join(ftot, "feature")
        .groupBy("feature")
        .agg((-F.sum((F.col("nl") / F.col("nf")) * F.log(F.col("nl") / F.col("nf")))).alias("h"))
    )
    hcond = (
        joint.join(vtot, ["feature", "val"])
        .join(ftot, "feature")
        .groupBy("feature")
        .agg(
            (-F.sum((F.col("n") / F.col("nf")) * F.log(F.col("n") / F.col("nv")))).alias("hc"),
            F.count_distinct("val").alias("n_values"),
        )
    )
    return hlabel.join(hcond, "feature").select(
        "feature",
        F.col("n_values").cast("long").alias("n_values"),
        F.round(F.col("h") - F.col("hc"), 6).alias("info_gain_nats"),
        F.round((F.col("h") - F.col("hc")) / F.col("h"), 6).alias("ig_ratio"),
    )


@query(
    "q_ml_class_metrics",
    oracle="""
    WITH base AS (
        SELECT o_orderstatus AS label, o_orderpriority AS f1,
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) % 7 AS BIGINT) AS f2
        FROM orders
    ), joint AS (
        SELECT label, f1, f2, COUNT(*) AS n FROM base GROUP BY 1, 2, 3
    ), nc AS (SELECT label, CAST(SUM(n) AS BIGINT) AS n_c FROM joint GROUP BY 1),
    n1 AS (SELECT label, f1, CAST(SUM(n) AS BIGINT) AS n_1 FROM joint GROUP BY 1, 2),
    n2 AS (SELECT label, f2, CAST(SUM(n) AS BIGINT) AS n_2 FROM joint GROUP BY 1, 2),
    v AS (SELECT COUNT(DISTINCT f1) AS v1, COUNT(DISTINCT f2) AS v2 FROM base),
    combos AS (SELECT DISTINCT f1, f2 FROM base),
    scored AS (
        SELECT c.f1, c.f2, nc.label,
               CAST(nc.n_c AS HUGEINT) * (COALESCE(n1.n_1, 0) + 1)
                   * (COALESCE(n2.n_2, 0) + 1) AS a,
               CAST(nc.n_c + v.v1 AS HUGEINT) * (nc.n_c + v.v2) AS b
        FROM combos c CROSS JOIN nc CROSS JOIN v
        LEFT JOIN n1 ON n1.label = nc.label AND n1.f1 = c.f1
        LEFT JOIN n2 ON n2.label = nc.label AND n2.f2 = c.f2
    ), wins AS (
        SELECT s1.f1, s1.f2, s1.label AS predicted
        FROM scored s1 JOIN scored s2
          ON s1.f1 = s2.f1 AND s1.f2 = s2.f2 AND s1.label <> s2.label
        WHERE s1.a * s2.b > s2.a * s1.b
           OR (s1.a * s2.b = s2.a * s1.b AND s1.label < s2.label)
        GROUP BY 1, 2, 3
        HAVING COUNT(*) = (SELECT COUNT(*) FROM nc) - 1
    ), confusion AS (
        SELECT b.label AS actual, w.predicted, COUNT(*) AS n
        FROM base b JOIN wins w ON b.f1 = w.f1 AND b.f2 = w.f2
        GROUP BY 1, 2
    ), per_class AS (
        SELECT cls.label,
               COALESCE((SELECT SUM(n) FROM confusion
                         WHERE actual = cls.label AND predicted = cls.label), 0)
                   AS tp,
               COALESCE((SELECT SUM(n) FROM confusion
                         WHERE predicted = cls.label), 0) AS pred_n,
               COALESCE((SELECT SUM(n) FROM confusion
                         WHERE actual = cls.label), 0) AS actual_n
        FROM nc cls
    )
    SELECT label,
           CAST(tp AS BIGINT) AS tp,
           CAST(pred_n AS BIGINT) AS pred_n,
           CAST(actual_n AS BIGINT) AS actual_n,
           ROUND(CASE WHEN pred_n = 0 THEN 0.0 ELSE tp * 1.0 / pred_n END, 6)
               AS precision,
           ROUND(CASE WHEN actual_n = 0 THEN 0.0 ELSE tp * 1.0 / actual_n END, 6)
               AS recall,
           ROUND(CASE WHEN tp = 0 THEN 0.0
                      ELSE 2.0 * tp / (pred_n + actual_n) END, 6) AS f1
    FROM per_class
    """,
    tags=("ml", "precision-recall", "f1", "evaluation"),
)
def q_ml_class_metrics(spark, sf_dir):
    """Per-class precision/recall/F1 derived from the exact-integer
    Naive Bayes confusion matrix (q_ml_naive_bayes) — the evaluation
    readout the single-accuracy evaluator (reference R13/R14,
    q_ml_evaluator) doesn't give: class-imbalanced deployments are
    judged on per-class F1, not accuracy. TP / predicted / actual
    totals are integer margins of the tiny confusion frame; the three
    ratios are single integer-ratio divisions (F1 in the 2TP/(P+A)
    form — one division, no precision·recall float chaining)."""
    confusion = _nb_confusion(spark, sf_dir)
    classes = confusion.select(F.col("actual").alias("label")).distinct()
    tp = confusion.filter(F.col("actual") == F.col("predicted")).select(
        F.col("actual").alias("label"), F.col("n").alias("tp")
    )
    pred_n = confusion.groupBy(F.col("predicted").alias("label")).agg(
        F.sum("n").alias("pred_n")
    )
    actual_n = confusion.groupBy(F.col("actual").alias("label")).agg(
        F.sum("n").alias("actual_n")
    )
    j = (
        classes.join(tp, "label", "left")
        .join(pred_n, "label", "left")
        .join(actual_n, "label", "left")
        .select(
            "label",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("pred_n", F.lit(0)).alias("pred_n"),
            F.coalesce("actual_n", F.lit(0)).alias("actual_n"),
        )
    )
    return j.select(
        "label",
        "tp",
        "pred_n",
        "actual_n",
        F.round(
            F.when(F.col("pred_n") == 0, 0.0).otherwise(
                F.col("tp") / F.col("pred_n")
            ),
            6,
        ).alias("precision"),
        F.round(
            F.when(F.col("actual_n") == 0, 0.0).otherwise(
                F.col("tp") / F.col("actual_n")
            ),
            6,
        ).alias("recall"),
        F.round(
            F.when(F.col("tp") == 0, 0.0).otherwise(
                2.0 * F.col("tp") / (F.col("pred_n") + F.col("actual_n"))
            ),
            6,
        ).alias("f1"),
    )


# Relative support floor for frequent-itemset mining (VERDICT r5 task #3
# — the 100 TB lever as code, not prose). An item is mined only if it
# appears in >= _FP_REL_FLOOR of all baskets, so the frequent-item
# dictionary is bounded by avg_basket_len / _FP_REL_FLOOR items
# INDEPENDENT of corpus size (sum of supports = total item occurrences =
# avg_len * n, and each surviving item absorbs >= _FP_REL_FLOOR * n of
# it). At every fixture SF the relative floor is below the absolute
# floor of 2 (ceil(1e-5 * 150k) = 2 at sf0.1), so the declared oracle's
# literal `>= 2` is exact at every scale the driver contract evaluates;
# the lever engages beyond ~200k baskets — measured on the 10x probe.
_FP_REL_FLOOR = 1e-5
_FP_REL_FLOOR_DEN = 100_000  # 1 / _FP_REL_FLOOR, for exact integer ceil


def _fp_min_count(n_baskets: int) -> int:
    """Absolute support floor derived from corpus size: max(2,
    ceil(n_baskets / 100_000)) in exact integer arithmetic (a float
    multiply by 1e-5 ceils 15.000...02 to 16 at n = 1.5M)."""
    return max(2, -(-n_baskets // _FP_REL_FLOOR_DEN))


def _prune_subfloor_items(items, item_col: str, min_count: int):
    """Support-floor pre-prune for frequent-itemset mining on long-tail
    catalogs: items whose global support is below the absolute floor
    cannot occur in ANY frequent itemset (anti-monotonicity), so they
    can be dropped before baskets are assembled — shrinking basket
    width, the collect_set shuffle payload, and the FP-tree. Applied
    ONLY when the corpus shape warrants it (some item is sub-floor):
    on dense catalogs like this fixture the semi-join is a strict no-op
    (measured r2/r3: zero parts below floor at either SF, cost
    invariant to a 7× floor raise), so the guard skips it. Returns
    (possibly-pruned items, whether the prune ran). The one extra
    min-support aggregate is the price of the shape check; at 100 TB
    the prune side is a key-only semi-join, shuffled on the item key."""
    supp = items.groupBy(item_col).agg(F.count("*").alias("_supp"))
    min_supp = supp.agg(F.min("_supp").alias("m")).collect()[0]["m"]
    if min_supp is None or min_supp >= min_count:
        return items, False
    keep = supp.filter(F.col("_supp") >= min_count).select(item_col)
    return items.join(keep, item_col, "left_semi"), True


def _fpgrowth_fit_floored(items, key_col: str, item_col: str):
    """Corpus-floored MLlib FPGrowth fit over (basket key, item) pairs —
    the PFP surface with the floor discipline, kept as the size-3+
    mining path and pinned by tests/test_round7.py (q_ml_fpgrowth's
    declared ≤2-itemset result enumerates directly since r12 — see its
    docstring). Returns (fitted model, min_count).

    The support floor is derived from the PRE-prune corpus size (that is
    the corpus the 1e-5 lever in _FP_REL_FLOOR is defined over). But
    MLlib derives minCount = ceil(minSupport * POST-prune basket count):
    a basket whose every item is sub-floor vanishes in the prune
    semi-join, so when the prune ran the basket count must be recounted
    — otherwise (min_count - 0.5)/n against a smaller corpus yields an
    effective floor of min_count - 1, admitting itemsets with support
    min_count - 1 (ADVICE r6 #1). The recount costs one key-distinct
    aggregate and ONLY runs when the prune ran (fixture SFs: skipped,
    floor=2, no sub-floor items)."""
    from pyspark.ml.fpm import FPGrowth

    from ..operators._cache import persist_tracked

    # Three consumers scan the (distinct) pair frame — the basket count,
    # the sub-floor support check, and the collect_set basket build (plus
    # PFP's own passes) — so persist it for the query's lifetime instead
    # of re-running the scan+distinct shuffle per consumer (released by
    # the harness via release_tracked).
    items = persist_tracked(items)
    n = items.select(key_col).distinct().count()
    min_count = _fp_min_count(n)
    items, pruned = _prune_subfloor_items(items, item_col, min_count)
    n2 = items.select(key_col).distinct().count() if pruned else n
    baskets = items.groupBy(key_col).agg(F.collect_set(item_col).alias("items"))
    # minCount = ceil(minSupport * n2); (min_count - 0.5)/n2 pins the
    # absolute floor at min_count without float-boundary risk
    # (min_count/n2 * n2 could round to min_count + ulp).
    # numPartitions (PFP's conditional-tree mining parallelism) stays at
    # the default = input partitions: an interleaved warm A/B at sf0.1
    # measured default(4) ≈ 4.1-5.1s, 8 ≈ 4.0-4.5s, 16 ≈ 4.8-5.9s,
    # 32 ≈ 6.0-6.8s — at fixture scale wider mining only adds task
    # overhead (a cold-session probe that suggested 32 was faster did not
    # replicate). At 100 TB numPartitions IS the knob to size toward
    # cluster cores: group partitions bound per-task conditional-tree
    # memory, which is what caps PFP's scaling.
    fp = FPGrowth(
        itemsCol="items", minSupport=(min_count - 0.5) / n2, minConfidence=0.5
    )
    return fp.fit(baskets), min_count


@query(
    "q_ml_fpgrowth",
    # FPGrowth support counts are exact (the algorithm is an exact
    # frequent-itemset miner — only its *enumeration* beats brute force),
    # so filtering the result to itemsets of size <= 2 makes the closed-form
    # singleton/pair SQL below a complete oracle. The (freq DESC, set_size,
    # itemset) sort is a total order: itemset strings are unique per size.
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), singles AS (
        SELECT CAST(l_partkey AS VARCHAR) AS itemset, 1 AS set_size,
               COUNT(*) AS freq
        FROM items GROUP BY l_partkey HAVING COUNT(*) >= 2
    ), pairs AS (
        SELECT CAST(a.l_partkey AS VARCHAR) || '|' || CAST(b.l_partkey AS VARCHAR)
                 AS itemset,
               2 AS set_size, COUNT(*) AS freq
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= 2
    )
    SELECT itemset, set_size, freq
    FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs)
    ORDER BY freq DESC, set_size, itemset LIMIT 100
    """,
    tags=("ml", "fpgrowth", "market-basket", "frequent-itemsets"),
)
def q_ml_fpgrowth(spark, sf_dir):
    """Frequent-itemset mining over order→parts baskets (corpus-derived
    support floor: max(2, ceil(1e-5 · n_baskets)), which is exactly 2 at
    every fixture SF — see _FP_REL_FLOOR), hash-checked against the
    closed-form singleton + pair counting SQL. The declared result
    filters to itemsets of size ≤ 2, and FPGrowth's support counts are
    exact — so since r12 the query computes the identical result by
    DIRECT 1- and 2-itemset enumeration (VERDICT r11 #2): the A-priori
    support floor prunes sub-floor items, singles come from the item
    support aggregate, pairs from one within-basket equi-self-join.
    Output proven row-identical to the MLlib PFP path it replaced
    (interleaved A/B, OPTIMIZATION_r12.md §2: 5.4 → 2.3 s min-of-5 at
    sf0.1) — the PFP mining passes (genFreqItems scan + conditional-tree
    shuffle + RDD mining) were 3+ s of work the declared ≤2-itemset
    result never consumed. The MLlib PFP surface (incl. size-3+ mining
    and the post-prune recount floor discipline) remains exercised by
    _fpgrowth_fit_floored and its tests (tests/test_round7.py,
    tests/test_sketches.py::test_fpgrowth_mines_beyond_pairs).

    Scale shape: one distinct shuffle builds the pair frame; the support
    aggregate is combinable; the pair join shuffles (basket, item) keys
    only — never collected baskets — and the per-basket pair fan-out is
    bounded by the same A-priori floor prune that bounded PFP's trees
    (sub-floor items cannot occur in any frequent itemset, so they drop
    before the join when present). The sorted-int itemset string makes
    the result engine-comparable.
    """
    from ..operators._cache import persist_tracked

    li = t(spark, sf_dir, "lineitem")
    # Three consumers scan the distinct pair frame — the basket count,
    # the item-support aggregate, and the pair self-join (twice) — so
    # persist it for the query's lifetime (released via release_tracked).
    items = persist_tracked(li.select("l_orderkey", "l_partkey").distinct())
    # Corpus-size-derived support floor (the 100 TB lever, VERDICT r5
    # task #3): floor = max(2, ceil(1e-5 * n_baskets)) bounds the
    # frequent-item dictionary independent of corpus size — see
    # _FP_REL_FLOOR. At every fixture SF this is exactly 2, so the
    # declared oracle's literal `>= 2` floor is exact wherever the
    # driver contract evaluates it. The floor derives from the PRE-prune
    # basket count (the corpus _FP_REL_FLOOR is defined over); unlike
    # the MLlib fit there is no post-prune recount to reconcile — the
    # enumeration filters on the absolute floor directly.
    n = items.select("l_orderkey").distinct().count()
    min_count = _fp_min_count(n)
    supp = persist_tracked(
        items.groupBy("l_partkey").agg(F.count("*").alias("freq"))
    )
    # Long-tail guard (VERDICT r3 task #8): sub-floor items cannot occur
    # in ANY frequent itemset (anti-monotonicity), so drop them before
    # the pair join when the corpus shape warrants it — same measured
    # guard as _prune_subfloor_items (fixture SFs: no sub-floor items,
    # the semi-join is skipped).
    min_supp = supp.agg(F.min("freq").alias("m")).collect()[0]["m"]
    if min_supp is not None and min_supp < min_count:
        keep = supp.filter(F.col("freq") >= min_count).select("l_partkey")
        items = items.join(keep, "l_partkey", "left_semi")
    singles = supp.filter(F.col("freq") >= min_count).select(
        F.col("l_partkey").cast("string").alias("itemset"),
        F.lit(1).alias("set_size"),
        "freq",
    )
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= min_count)
        .select(
            F.concat_ws(
                "|", F.col("pa").cast("string"), F.col("pb").cast("string")
            ).alias("itemset"),
            F.lit(2).alias("set_size"),
            "freq",
        )
    )
    return (
        singles.unionByName(pairs)
        .orderBy(F.col("freq").desc(), "set_size", "itemset")
        .limit(100)
    )


@query(
    "q_ml_isotonic",
    # Pool-adjacent-violators is a deterministic algorithm, but MLlib's
    # parallel PAV merges blocks in an implementation-specific float order
    # that no SQL twin reproduces → rows-only; tests pin monotonicity,
    # mean preservation, and agreement with a sequential numpy PAV.
    oracle=None,
    tags=("ml", "isotonic", "calibration", "regression"),
)
def q_ml_isotonic(spark, sf_dir):
    """MLlib IsotonicRegression of daily mean event value vs epoch day —
    the monotone fit behind score calibration (its most common ML use is
    calibrating classifier probabilities, as in q_ml_calibration's
    binned reliability twin). Returns the fitted step function as
    (boundary, prediction) rows.

    Scale shape: MLlib's isotonic is the textbook distributed PAV —
    pool adjacent violators within each sorted partition, then merge
    boundary blocks across partitions; input here is the |days|-size
    rollup (one shuffle), so the fit is effectively driver-size. The
    step function itself is the broadcastable artifact a scoring join
    would use downstream.
    """
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d")
    ).agg(
        (F.sum(dec("value")).cast("double") / F.count("*")).alias("label"),
        F.count("*").cast("double").alias("weight"),
    )
    feats = VectorAssembler(inputCols=["d"], outputCol="features").transform(
        daily.select(F.col("d").cast("double"), "label", "weight")
    )
    model = IsotonicRegression(weightCol="weight").fit(feats)
    bounds = [float(x) for x in model.boundaries]
    preds = [float(y) for y in model.predictions]
    # VERDICT r9 #5 (self-auditing rows-only result): the fitted step
    # function must actually BE isotonic — boundaries strictly
    # increasing, predictions nondecreasing; first row vacuously True.
    return spark.createDataFrame(
        [
            (
                b,
                round(p, 6),
                i == 0 or (b > bounds[i - 1] and p >= preds[i - 1] - 1e-12),
            )
            for i, (b, p) in enumerate(zip(bounds, preds))
        ],
        "boundary double, prediction double, invariant_ok boolean",
    )


# --- q_ml_kmeans_exact: deterministic, exactly-audited distributed Lloyd ---
#
# MLlib's k-means (q_ml_kmeans above) is seed-deterministic inside one
# engine but unreproducible in SQL (k-means|| init + float mean order).
# This variant restates Lloyd's algorithm so that EVERY intermediate is
# either an exact int64 or a single correctly-rounded float64 division,
# making the whole iterative fit replayable bit-for-bit by the DuckDB
# oracle:
#   * vectors are floor-quantized (floor(x * 1024) — x*1024 is exact
#     because the float32 -> float64 cast is exact and 1024 is a power of
#     two; floor has no tie semantics, unlike round);
#   * a centroid is the RATIONAL (s, n) — elementwise int64 member sums
#     plus the count — never a float mean, so distributed aggregation
#     order cannot perturb it;
#   * the assignment comparator for cluster j is
#     d_j / n_j^2 where d_j = sum_i (n_j*x_i - s_i)^2 is an exact int64
#     (bounds: |xq| <= 2^11, n <= 2^11 at the tested SFs -> d < 2^53,
#     so the single float64 division is correctly rounded and identical
#     in both engines); ties break by cluster id.
KMX_Q = 1024  # power-of-two quantization scale (exact float64 product)
KMX_K = 8
KMX_DIM = 64
KMX_PASSES = 4  # assignment passes; KMX_PASSES-1 centroid updates


def _kmx_quantized(spark, sf_dir):
    return t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * KMX_Q).cast("long"),
        ).alias("xq"),
    )


def _kmx_cent_arrays(cents):
    """Centroid rationals as the kernel-closure arrays (cc, cs, cn, cn²,
    s·s) — shared by every Lloyd-assignment kernel below."""
    import numpy as np

    cs = np.array([s for (_, s, _) in cents], dtype=np.int64)
    cn = np.array([n for (_, _, n) in cents], dtype=np.int64)
    cc = np.array([c for (c, _, _) in cents], dtype=np.int64)
    assert list(cc) == sorted(cc), "cents must stay sorted by cluster id"
    ss = (cs * cs).sum(axis=1)
    return cc, cs, cn, cn * cn, ss


def _kmx_argmin(X, cs, cn, cn2, ss):
    """The exact Lloyd argmin over one (n, dim) int64 batch: ALL k
    distances as one exact GEMM via the expansion
    d_j(x) = n_j²·(x·x) − 2n_j·(x·s_j) + s_j·s_j — pure integer
    arithmetic, so the value is IDENTICAL to the oracle's elementwise
    fold regardless of op order (bounds: |xq| < 2^10, dim 64, n ≤ 2^15
    → every term < 2^58, no int64 overflow). The argmin comparator is
    the same single correctly-rounded float64 division d/n² the oracle
    computes; cents stay sorted by cluster id, so numpy's first-minimum
    argmin reproduces the oracle's ORDER BY d/cn², c tie-break exactly.
    (History: a zip_with/aggregate HOF kernel was 50-100x slower —
    interpreted per element — and k*dim literal trees cost more Catalyst
    analysis than execution; the Arrow GEMM is the sanctioned vectorized
    escape hatch, same shape as the IVF/kNN operators. The x·s product
    itself goes through exact_int_gemm — float64 dgemm, bit-exact under
    the runtime-checked 2^53 partial-sum bound — because numpy's int64
    matmul is non-BLAS and dominated the 100x-probe fit.)
    Returns (j, d_min): argmin indices into cents and the exact int64
    distance numerators at the argmin."""
    import numpy as np

    from ..operators._gemm import exact_int_gemm

    xx = (X * X).sum(axis=1)
    xs = exact_int_gemm(X, cs.T)
    d = cn2[None, :] * xx[:, None] - 2 * cn[None, :] * xs + ss[None, :]
    cmp = d.astype(np.float64) / cn2.astype(np.float64)[None, :]
    j = np.argmin(cmp, axis=1)  # first min -> lowest c (sorted)
    return j, d[np.arange(len(X)), j]


def _kmx_assign(q, cents):
    """One Lloyd assignment pass as a ZERO-SHUFFLE Arrow GEMM
    (mapInArrow): the k centroid rationals ship in the task closure
    (k x dim int64 — bytes), each batch runs the exact `_kmx_argmin`
    kernel, and the vec_id/xq columns PASS THROUGH as the original
    Arrow buffers — the r10 100× decomposition measured the old
    per-row list rebuild (``np.array(pdf["xq"].tolist())``) as a
    dominant term next to the BLAS GEMM, and this pass ships nothing
    it did not receive (guide §4.2)."""
    import pyarrow as pa

    from ..operators._arrow import list_mat

    cc, cs, cn, cn2, ss = _kmx_cent_arrays(cents)

    def assign(batches):
        for b in batches:
            if not b.num_rows:
                continue
            X = list_mat(b.column("xq"), KMX_DIM)
            j, dmin = _kmx_argmin(X, cs, cn, cn2, ss)
            yield pa.RecordBatch.from_arrays(
                [b.column("vec_id"), b.column("xq"), pa.array(cc[j]), pa.array(dmin)],
                names=["vec_id", "xq", "c", "d"],
            )

    return q.mapInArrow(assign, "vec_id long, xq array<long>, c long, d long")


def _kmx_update(q, prev):
    """One FUSED Lloyd assignment + centroid-update round: each Arrow
    batch assigns (the exact `_kmx_argmin` kernel) and immediately
    reduces to per-cluster (count, Σxq) partials via a sorted
    ``np.add.reduceat`` — int64 addition is order-free, so the per-task
    partial sums reduce to EXACTLY the int64s the old row-wise groupBy
    computed. The round's only collect is the tasks·k partial rows
    (guide §2.3 "aggregate before you shuffle" taken to its endpoint:
    no shuffle at all — one map-only job per round, k x dim ints of
    driver state like the other iterative operators). A guard keeps the
    combinable groupBy form for deployments where tasks·k outgrows the
    driver. Empty clusters keep their previous rational."""
    import numpy as np
    import pyarrow as pa

    from ..operators._arrow import list_mat

    cc, cs, cn, cn2, ss = _kmx_cent_arrays(prev)
    k, D = len(cc), KMX_DIM
    names = ["j", "n"] + [f"s{i}" for i in range(D)]
    schema = "j long, n long, " + ", ".join(f"s{i} long" for i in range(D))

    def step(batches):
        acc_n = np.zeros(k, dtype=np.int64)
        acc_s = np.zeros((k, D), dtype=np.int64)
        seen = False
        for b in batches:
            if not b.num_rows:
                continue
            seen = True
            X = list_mat(b.column("xq"), D)
            j, _ = _kmx_argmin(X, cs, cn, cn2, ss)
            order = np.argsort(j, kind="stable")
            js = j[order]
            bounds = np.flatnonzero(np.r_[True, js[1:] != js[:-1]])
            idx = js[bounds]
            acc_n[idx] += np.diff(np.r_[bounds, len(js)])
            acc_s[idx] += np.add.reduceat(X[order], bounds, axis=0)
        if seen:
            present = np.flatnonzero(acc_n)
            cols = [pa.array(present.astype(np.int64)), pa.array(acc_n[present])]
            cols += [pa.array(acc_s[present, i]) for i in range(D)]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    part = q.mapInArrow(step, schema)
    # ADVICE r11 #4: the kernel emits up to k rows per PARTITION of q,
    # so size the driver-collect guard on the true task count, not the
    # core-slot count (an input with many more splits than slots is
    # exactly the scale scenario the guard exists for).
    if k * q.rdd.getNumPartitions() > 2_000_000:
        # cluster-scale guard: combine partials in Spark, collect k rows
        part = part.groupBy("j").agg(
            F.sum("n").alias("n"),
            *[F.sum(f"s{i}").alias(f"s{i}") for i in range(D)],
        )
    pdf = part.toPandas()  # ≤ tasks·k partial rows, one map-only job
    jj = pdf["j"].to_numpy()
    acc_n = np.zeros(k, dtype=np.int64)
    acc_s = np.zeros((k, D), dtype=np.int64)
    np.add.at(acc_n, jj, pdf["n"].to_numpy())
    np.add.at(acc_s, jj, pdf[[f"s{i}" for i in range(D)]].to_numpy())
    return [
        (c, [int(v) for v in acc_s[j]], int(acc_n[j])) if acc_n[j] else (c, s, n)
        for j, (c, s, n) in enumerate(prev)
    ]


def _kmx_cte_parts(k_sql: str | None = None) -> list[str]:
    """Unrolled-iteration DuckDB replay of the exact Lloyd loop: the
    KMX_PASSES assignment/update rounds become chained CTEs computing the
    identical int64 distances, the identical single-division float64
    comparator, and the identical elementwise integer centroid sums.
    Returns the CTE list ending at a{KMX_PASSES} (vec_id, xq, c, d) so
    downstream consumers (q_ml_kmeans_exact here, q_dedup_semantic in
    dedup.py) append their own final select over the converged
    assignment. ``k_sql`` overrides the init-cluster count with a SQL
    expression (q_dedup_semantic sizes k to the corpus — the unrolled
    passes themselves are k-agnostic, only the c0 seed filter changes)."""
    K, Q, D, P = KMX_K, KMX_Q, KMX_DIM, KMX_PASSES
    k_expr = k_sql if k_sql is not None else str(K)
    dist = (
        "CAST(list_sum(list_transform(list_zip(q.xq, c.s), "
        "p -> (c.n*p[1] - p[2])*(c.n*p[1] - p[2]))) AS BIGINT)"
    )
    parts = [
        "q AS (SELECT vec_id, list_transform(embedding, "
        f"x -> CAST(floor(CAST(x AS DOUBLE)*{Q}) AS BIGINT)) AS xq FROM embeddings)",
        "c0 AS (SELECT CAST(vec_id AS BIGINT) AS c, xq AS s, "
        f"CAST(1 AS BIGINT) AS n FROM q WHERE vec_id < ({k_expr}))",
    ]
    for i in range(1, P + 1):
        parts.append(
            f"a{i}_all AS (SELECT q.vec_id, q.xq, c.c, c.n AS cn, {dist} AS d "
            f"FROM q, c{i - 1} c)"
        )
        parts.append(
            f"a{i} AS (SELECT vec_id, xq, c, d FROM (SELECT *, ROW_NUMBER() OVER ("
            "PARTITION BY vec_id ORDER BY CAST(d AS DOUBLE)/CAST(cn*cn AS DOUBLE), c"
            f") AS rk FROM a{i}_all) WHERE rk = 1)"
        )
        if i < P:
            parts.append(
                f"s{i} AS (SELECT a.c, t.i, CAST(SUM(a.xq[t.i]) AS BIGINT) AS sx "
                f"FROM a{i} a CROSS JOIN range(1, {D + 1}) t(i) GROUP BY 1, 2)"
            )
            parts.append(
                f"u{i} AS (SELECT s.c, list(s.sx ORDER BY s.i) AS s, "
                f"CAST(MAX(m.cnt) AS BIGINT) AS n FROM s{i} s JOIN "
                f"(SELECT c, COUNT(*) AS cnt FROM a{i} GROUP BY 1) m USING (c) "
                "GROUP BY s.c)"
            )
            parts.append(
                f"c{i} AS (SELECT p.c, COALESCE(u.s, p.s) AS s, COALESCE(u.n, p.n) AS n "
                f"FROM c{i - 1} p LEFT JOIN u{i} u USING (c))"
            )
    return parts


def _kmx_oracle() -> str:
    final = (
        "SELECT CAST(c AS BIGINT) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors, "
        "CAST(SUM(list_sum(xq)) AS BIGINT) AS s_checksum, "
        f"CAST(SUM(d) AS BIGINT) AS wssd_scaled FROM a{KMX_PASSES} GROUP BY 1"
    )
    return "WITH " + ",\n".join(_kmx_cte_parts()) + "\n" + final


def _kmx_fit(spark, sf_dir, k: int | None = None):
    """Run the exact Lloyd fit (init = the k lowest vec_ids as singleton
    rationals, default k=KMX_K, KMX_PASSES-1 updates) and return
    ``(q, cents)`` — the quantized corpus and the FINAL centroid
    rationals [(c, s, n), ...] — or None on an empty corpus. The
    audited IVF index (operators/similarity.py) consumes the rationals
    directly; q_ml_kmeans_exact / q_dedup_semantic take the assignment
    via _kmx_fit_assign."""
    if k is None:
        k = KMX_K
    from ..operators._cache import persist_tracked

    # KMX_PASSES passes + the init collect all read the quantized frame;
    # persist it for the duration of the query (the docstring's "on a
    # real cluster the quantized frame would be cached across passes" —
    # now it is here too; released by the harness via release_tracked).
    # Spread it across the cores first when the scan arrives in fewer
    # splits than the session has slots (guide §2.5 "input skew"): the
    # 100× probe corpus is ONE 31 MB parquet file, which silently ran
    # every n×k assignment pass as a single task on one core — measured
    # at k=1600: the fit was core-bound at 1/32 utilization. Hash
    # repartition on vec_id is deterministic and per-row results are
    # partitioning-independent (argmin per row; update sums order-free).
    q = _kmx_quantized(spark, sf_dir)
    slots = spark.sparkContext.defaultParallelism
    # scale-adaptive width (guide §2): one GEMM task per ~2 MB of
    # quantized vectors, capped at the core slots — a fixture-sized
    # corpus keeps its cheap single-partition plan, the one-file probe
    # corpus spreads across the machine. Derived from the optimizer's
    # static size estimate, so the decision is deterministic. Explicit
    # width, NOT spark.sql.shuffle.partitions: a vanilla 200-partition
    # session must not fan a tiny corpus into 200 tasks per pass.
    est_bytes = int(q._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    width = max(1, min(slots, est_bytes >> 21))
    if q.rdd.getNumPartitions() < width:
        q = q.repartition(width, "vec_id")
    q = persist_tracked(q)
    first = q.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    if not first:
        return None
    cents = [(int(r["vec_id"]), [int(v) for v in r["xq"]], 1) for r in first]
    for _ in range(KMX_PASSES - 1):
        cents = _kmx_update(q, cents)
    return q, cents


def _kmx_fit_assign(spark, sf_dir, k: int | None = None):
    """Exact Lloyd fit + final assignment frame (vec_id, xq, c, d), or
    None on an empty corpus. Shared by q_ml_kmeans_exact (fixed k) and
    q_dedup_semantic (corpus-sized k) so both ride the identical audited
    iteration."""
    fit = _kmx_fit(spark, sf_dir, k)
    if fit is None:
        return None
    q, cents = fit
    return _kmx_assign(q, cents)


@query(
    "q_ml_kmeans_exact",
    oracle=_kmx_oracle(),
    tags=("ml", "kmeans", "clustering", "exact-audit", "iterative"),
)
def q_ml_kmeans_exact(spark, sf_dir):
    """Exactly-audited distributed k-means: KMX_PASSES Lloyd assignment
    passes over the floor-quantized embedding corpus (init = the KMX_K
    lowest vec_ids as singleton rationals), every arithmetic step either
    exact int64 or one correctly-rounded float64 division, so DuckDB
    replays the ENTIRE iterative fit and the declared per-cluster sizes,
    centroid-sum checksums, and scaled within-cluster distances
    hash-match (see _kmx_oracle for the unrolled replay).

    Build-time action (documented like q_agg_quantile_two_phase): the
    KMX_PASSES-1 centroid updates each run one k-row aggregate collect
    while the DataFrame is being CONSTRUCTED — per-round driver state is
    k x dim int64s, the same driver-sized footprint as pagerank's
    convergence probe.

    Scale shape: each pass ships k x dim int64 centroids in the task
    closure (bytes) and computes all k distances per Arrow batch as one
    exact integer GEMM (see _kmx_assign) — zero shuffle, no global
    sort, no pairwise join, cost k*dim*n per round exactly like MLlib's
    distributed Lloyd; on a real cluster the quantized frame would be
    cached across passes."""
    import numpy as np
    import pyarrow as pa

    from ..operators._arrow import list_mat

    fit = _kmx_fit(spark, sf_dir)
    if fit is None:
        return spark.createDataFrame(
            [], "cluster long, n_vectors long, s_checksum long, wssd_scaled long"
        )
    q, cents = fit
    cc, cs, cn, cn2, ss = _kmx_cent_arrays(cents)
    k, D = len(cc), KMX_DIM

    # Final pass fused with the declared per-cluster rollup: every output
    # column is an exact integer SUM over the assignment, so each batch
    # reduces to per-cluster (count, Σ listsum(xq), Σ d) partials and the
    # shuffle carries tasks·k rows — no xq array ever crosses back to the
    # JVM (the old form shipped the whole corpus into a groupBy with an
    # interpreted per-element fold for s_checksum).
    def final_partials(batches):
        acc = np.zeros((k, 3), dtype=np.int64)  # n, Σrowsum, Σd
        seen = False
        for b in batches:
            if not b.num_rows:
                continue
            seen = True
            X = list_mat(b.column("xq"), D)
            j, dmin = _kmx_argmin(X, cs, cn, cn2, ss)
            np.add.at(acc[:, 0], j, 1)
            np.add.at(acc[:, 1], j, X.sum(axis=1))
            np.add.at(acc[:, 2], j, dmin)
        if seen:
            present = np.flatnonzero(acc[:, 0])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cc[present]),
                    pa.array(acc[present, 0]),
                    pa.array(acc[present, 1]),
                    pa.array(acc[present, 2]),
                ],
                names=["cluster", "n", "sx", "d"],
            )

    part = q.mapInArrow(final_partials, "cluster long, n long, sx long, d long")
    return part.groupBy("cluster").agg(
        F.sum("n").alias("n_vectors"),
        F.sum("sx").alias("s_checksum"),
        F.sum("d").alias("wssd_scaled"),
    )


# --- q_ml_isotonic_exact: exactly-audited pool-adjacent-violators -------
#
# q_ml_isotonic above keeps MLlib's parallel PAV rows-only (its block
# merges run in an implementation-specific float order). This twin
# restates the weighted isotonic fit so the ENTIRE algorithm is exact
# integer arithmetic until one final division (the kmeans_exact recipe):
#   * per-day pools carry (W, S) = (event count, cents sum) — both
#     exact int64, so pooling is int addition in any order;
#   * the violation test "mean(prev) >= mean(cur)" is the integer
#     cross-multiplication S_prev*W_cur >= S_cur*W_prev — no float
#     compare ever decides a merge (ties pool, so emitted means are
#     strictly increasing);
#   * the prediction is the single correctly-rounded division S/W.
# DuckDB replays the sequential stack machine with a recursive CTE
# carrying the three pool stacks as LIST state (the FFD-replay
# precedent): each step either merges the top two pools (violation) or
# pushes the next day; the unique terminal row (input consumed, no
# violation) unnests to the fitted step function.


def _iso_oracle() -> str:
    return """
WITH RECURSIVE daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS s
    FROM events GROUP BY 1
), packed AS (
    SELECT list(d ORDER BY d) AS dd, list(n ORDER BY d) AS nn,
           list(s ORDER BY d) AS ss
    FROM daily
), rec AS (
    SELECT 1 AS i,
           CAST([] AS BIGINT[]) AS pd,
           CAST([] AS BIGINT[]) AS pw,
           CAST([] AS BIGINT[]) AS ps
    FROM packed
    UNION ALL
    SELECT CASE WHEN viol THEN i ELSE i + 1 END,
           CASE WHEN viol THEN pd[:len(pd) - 1]
                ELSE list_append(pd, dd[i]) END,
           CASE WHEN viol
                THEN list_append(pw[:len(pw) - 2], pw[-2] + pw[-1])
                ELSE list_append(pw, nn[i]) END,
           CASE WHEN viol
                THEN list_append(ps[:len(ps) - 2], ps[-2] + ps[-1])
                ELSE list_append(ps, ss[i]) END
    FROM (
        SELECT r.*, p.dd, p.nn, p.ss,
               (len(r.pw) >= 2 AND r.ps[-2] * r.pw[-1] >= r.ps[-1] * r.pw[-2])
                   AS viol
        FROM rec r, packed p
    )
    WHERE viol OR i <= len(dd)
), final AS (
    SELECT r.pd, r.pw, r.ps
    FROM rec r, packed p
    WHERE r.i = len(p.dd) + 1
      AND NOT (len(r.pw) >= 2 AND r.ps[-2] * r.pw[-1] >= r.ps[-1] * r.pw[-2])
)
SELECT pd[u.k] AS d_start,
       pw[u.k] AS pool_weight,
       ps[u.k] AS pool_cents,
       CAST(ps[u.k] AS DOUBLE) / pw[u.k] AS pred_cents
FROM final, UNNEST(range(1, len(pd) + 1)) AS u(k)
"""


@query(
    "q_ml_isotonic_exact",
    oracle=_iso_oracle(),
    tags=("ml", "isotonic", "calibration", "exact-audit", "iterative"),
)
def q_ml_isotonic_exact(spark, sf_dir):
    """Exactly-audited weighted isotonic regression of daily total event
    value vs epoch day: the distributed work is the one-shuffle daily
    (count, cents) rollup — exact ints — and the PAV stack machine runs
    driver-side over that |days|-size series (the same driver-size
    precedent as q_ml_isotonic/markov), with every merge decided by
    integer cross-multiplication and the fitted level emitted as the
    single division S/W. The DuckDB oracle replays the identical stack
    machine (see _iso_oracle), so the full fit hash-matches.

    Scale shape: the fit input is |days| rows regardless of corpus size
    (the rollup is combinable), and the emitted step function is the
    broadcastable artifact a calibration scoring join uses downstream —
    identical to MLlib's deployment shape, minus the float-order
    nondeterminism."""
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum((dec("value") * 100).cast("long")).alias("s"),
        )
        .orderBy("d")
        .collect()
    )
    if not daily:
        return spark.createDataFrame(
            [], "d_start long, pool_weight long, pool_cents long, pred_cents double"
        )
    pd_, pw, ps = [], [], []
    for r in daily:
        pd_.append(int(r["d"]))
        pw.append(int(r["n"]))
        ps.append(int(r["s"]))
        while len(pw) >= 2 and ps[-2] * pw[-1] >= ps[-1] * pw[-2]:
            pd_.pop()
            pw[-2:] = [pw[-2] + pw[-1]]
            ps[-2:] = [ps[-2] + ps[-1]]
    out = [
        (d, w, s, s / w) for d, w, s in zip(pd_, pw, ps)
    ]
    return spark.createDataFrame(
        out, "d_start long, pool_weight long, pool_cents long, pred_cents double"
    )


# --- q_ml_pca_power_exact: exactly-audited top principal component -----
#
# q_ml_pca keeps MLlib's eigen-decomposition rows-only (LAPACK sign/
# order conventions aren't SQL-reproducible). This twin restates the
# top-PC computation so BOTH engines perform the identical IEEE op
# sequence end to end (the kmeans_exact/markov recipe):
#   * center WITHOUT rationals: y_r = n*x_r - colsum over the floor-
#     quantized vectors — exact int64 (the kmeans n*x - s trick);
#   * the Gram matrix G = Y'Y is an exact int64 aggregate (order-free),
#     cast once to float64 (identical correctly-rounded cast);
#   * three driver-side matrix squarings produce C8 = (G)^8 with a
#     defined ascending-k fold per cell — eigenvectors unchanged,
#     eigengap raised to the 8th power, so 100 power steps converge
#     like 800 on G;
#   * each power step divides by the carried norm (n2 in the recursion
#     state) and the DuckDB oracle replays every fold left-to-right.
PCAX_ITERS = 100


def _pcax_oracle() -> str:
    D = KMX_DIM
    Q = KMX_Q
    N = PCAX_ITERS
    fold0 = "list_prepend(CAST(0.0 AS DOUBLE), {body})"

    def dot(body):
        return f"list_reduce({fold0.format(body=body)}, (a, b) -> a + b)"

    sq = (
        "SELECT list_transform(range(1, {d} + 1), i -> "
        "list_transform(range(1, {d} + 1), j -> "
        + dot("list_transform(range(1, {d} + 1), k -> c[i][k] * c[k][j])")
        + ")) AS c FROM {src}"
    )
    return f"""
WITH RECURSIVE q AS (
    SELECT vec_id, list_transform(embedding,
        x -> CAST(floor(CAST(x AS DOUBLE) * {Q}) AS BIGINT)) AS xq
    FROM embeddings
), meta AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q
), scol AS (
    SELECT u.i, CAST(SUM(xq[u.i]) AS BIGINT) AS sv
    FROM q, UNNEST(range(1, {D} + 1)) AS u(i) GROUP BY u.i
), svec AS (
    SELECT list(sv ORDER BY i) AS s FROM scol
), yr AS (
    SELECT vec_id,
           list_transform(range(1, {D} + 1),
               i -> m.n * q.xq[i] - sv.s[i]) AS y
    FROM q, meta m, svec sv
), cells AS (
    SELECT u.i, v.j, CAST(SUM(y[u.i] * y[v.j]) AS BIGINT) AS g
    FROM yr, UNNEST(range(1, {D} + 1)) AS u(i),
         UNNEST(range(1, {D} + 1)) AS v(j)
    GROUP BY u.i, v.j
), grow AS (
    SELECT i, list(CAST(g AS DOUBLE) ORDER BY j) AS gr FROM cells GROUP BY i
), gmat AS (
    SELECT list(gr ORDER BY i) AS c FROM grow
), m2 AS ({sq.format(d=D, src="gmat")}
), m4 AS ({sq.format(d=D, src="m2")}
), m8 AS ({sq.format(d=D, src="m4")}
), it AS (
    SELECT 0 AS t, c,
           list_transform(range(1, {D} + 1),
               i -> CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE)
                         ELSE CAST(0.0 AS DOUBLE) END) AS w,
           CAST(1.0 AS DOUBLE) AS n2
    FROM m8
    UNION ALL
    SELECT t + 1, c,
           list_transform(range(1, {D} + 1), i ->
               {dot(f"list_transform(range(1, {D} + 1), j -> c[i][j] * (w[j] / sqrt(n2)))")}) AS w,
           {dot(f'''list_transform(
               list_transform(range(1, {D} + 1), i ->
                   {dot(f"list_transform(range(1, {D} + 1), j -> c[i][j] * (w[j] / sqrt(n2)))")}),
               y -> y * y)''')} AS n2
    FROM it WHERE t < {N}
), vfin AS (
    SELECT list_transform(w, x -> x / sqrt(n2)) AS v
    FROM it WHERE t = {N}
), ray AS (
    SELECT {dot(f'''list_transform(range(1, {D} + 1), i -> v[i] *
        {dot(f"list_transform(range(1, {D} + 1), j -> g.c[i][j] * v[j])")})''')} AS lam
    FROM vfin, gmat g
)
SELECT CAST(u.i AS BIGINT) AS component,
       round_even(v.v[u.i], 6) AS loading,
       round_even(r.lam, 2) AS rayleigh_g
FROM vfin v, ray r, UNNEST(range(1, {D} + 1)) AS u(i)
"""


@query(
    "q_ml_pca_power_exact",
    oracle=_pcax_oracle(),
    tags=("ml", "pca", "exact-audit", "iterative"),
)
def q_ml_pca_power_exact(spark, sf_dir):
    """Exactly-audited top principal component of the embedding corpus:
    the distributed work is ONE exact-integer Gram aggregate (posexplode
    to (i, y_i) pairs, self-join on vec_id, 64x64 int64 sums — order-
    free), and the eigenvector extraction runs driver-side as PCAX_ITERS
    power steps on (G cast to float64)^8 with every fold in declared
    ascending order, so the DuckDB oracle replays the identical IEEE
    sequence and the loadings hash-match bit-for-bit (see _pcax_oracle).
    Alignment with LAPACK's eigenvector is pinned in pytest.

    Build-time action: the Gram collect (64x64 ints) and the pure-Python
    squarings/iterations run while the DataFrame is constructed — the
    same driver-size-matrix precedent as markov/confusion.

    Scale shape: corpus size only touches the single combinable Gram
    aggregate (n*d^2 map work, d^2 reduce — exactly MLlib PCA's
    treeAggregate shape); everything after is O(d^2) driver state.
    Bounds: |y| <= 2n*2^10*... with |xq| < 2^10 and n <= 2^11 at the
    tested SFs, |y| < 2^22 and G entries < 2^(44+11) = 2^55 < 2^63
    (int64-exact; the float64 cast is correctly rounded identically in
    both engines either way)."""
    import math

    q = _kmx_quantized(spark, sf_dir)
    D = KMX_DIM
    meta = q.agg(
        F.count("*").alias("n"),
        *[F.sum(F.col("xq")[i]).alias(f"s{i}") for i in range(D)],
    ).collect()[0]
    n = int(meta["n"])
    if n == 0:
        return spark.createDataFrame(
            [], "component long, loading double, rayleigh_g double"
        )
    s = [int(meta[f"s{i}"]) for i in range(D)]
    # Gram pass: each Arrow batch centers (y_r = n·x_r − colsum, exact
    # int64) and reduces itself to a 64×64 Y'Y partial — int64 addition
    # is order-free, so the groupBy(i,j) sum of per-task partials equals
    # the old per-row posexplode SELF-JOIN cell-for-cell, while the join
    # (which shuffled n·d rows into an n·d² expansion) disappears
    # entirely. The chunked exact GEMM keeps every partial sum < 2^53 so
    # the BLAS path stays bit-exact (operators/_gemm.py).
    import numpy as np
    import pyarrow as pa

    from ..operators._arrow import list_mat
    from ..operators._gemm import exact_int_gemm

    s_np = np.array(s, dtype=np.int64)
    nn = n

    def gram_partials(batches):
        acc = np.zeros((D, D), dtype=np.int64)
        seen = False
        for b in batches:
            if not b.num_rows:
                continue
            seen = True
            Y = nn * list_mat(b.column("xq"), D) - s_np[None, :]
            # chunk so max|y|²·chunk < 2^53 keeps each partial on the
            # exact BLAS path (int64 adds between chunks are order-free)
            step = max(1, (1 << 53) // max(1, int(np.abs(Y).max()) ** 2))
            for lo in range(0, len(Y), step):
                blk = Y[lo : lo + step]
                acc += exact_int_gemm(blk.T, blk)
        if seen:
            ii, jj = np.meshgrid(np.arange(D), np.arange(D), indexing="ij")
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ii.reshape(-1).astype(np.int64)),
                    pa.array(jj.reshape(-1).astype(np.int64)),
                    pa.array(acc.reshape(-1)),
                ],
                names=["i", "j", "g"],
            )

    cells = (
        q.mapInArrow(gram_partials, "i long, j long, g long")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
        .collect()
    )
    G = [[0] * D for _ in range(D)]
    for r in cells:
        G[r["i"]][r["j"]] = int(r["g"])
    C = [[float(v) for v in row] for row in G]

    def matsq(c):
        out = [[0.0] * D for _ in range(D)]
        for i in range(D):
            ci = c[i]
            for j in range(D):
                acc = 0.0
                for k in range(D):
                    acc = acc + ci[k] * c[k][j]
                out[i][j] = acc
        return out

    c8 = matsq(matsq(matsq(C)))
    w = [1.0] + [0.0] * (D - 1)
    n2 = 1.0
    for _ in range(PCAX_ITERS):
        nrm = math.sqrt(n2)
        nw = []
        for i in range(D):
            acc = 0.0
            for j in range(D):
                acc = acc + c8[i][j] * (w[j] / nrm)
            nw.append(acc)
        acc = 0.0
        for v in nw:
            acc = acc + v * v
        w, n2 = nw, acc
    nrm = math.sqrt(n2)
    v = [x / nrm for x in w]
    lam = 0.0
    for i in range(D):
        inner = 0.0
        for j in range(D):
            inner = inner + G[i][j] * v[j]
        lam = lam + v[i] * inner
    import numpy as np

    out = [
        (i + 1, float(np.round(v[i], 6)), float(np.round(lam, 2)))
        for i in range(D)
    ]
    return spark.createDataFrame(
        out, "component long, loading double, rayleigh_g double"
    )


# --- q_ml_logreg_exact: exactly-audited INTEGER-ONLY GLM training ------
#
# The audited-ML recipe pushed to its endpoint: a full-batch
# gradient-descent classifier where every quantity in the ENTIRE
# training loop is an int64 — features (quantized), the hard-sigmoid
# link (clamp(S/2 + z/4), i.e. the piecewise-linear sigmoid of
# quantized/low-precision training practice), the error, the gradient
# sums (order-free exact), and the weight update (floor-div by n plus
# an arithmetic shift as the learning rate). No float exists anywhere,
# so there is nothing to round and the oracle replay is trivially
# bit-exact; cross-engine gotchas baked in: arithmetic >> (both engines
# floor), and floor-div via the pmod identity because DuckDB's // and
# Spark's DIV truncate toward zero on negatives.
LOGREG_STEPS = 12
LOGREG_LR_SHIFT = 2  # w -= (grad/n) >> 2
LOGREG_S = 1 << 16  # fixed-point scale


def _logreg_feat(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    cents = (dec("c_acctbal") * 100).cast("long")
    return c.select(
        F.shiftright(cents, 10).alias("x1"),
        F.col("c_nationkey").cast("long").alias("x2"),
        (cents > 0).cast("long").alias("y"),
    )


# Gradient sums depend on rows only through their (x1, x2, y) cell, so
# the fit can compress the corpus to its distinct-cell histogram in ONE
# combinable aggregate and replay all LOGREG_STEPS on the driver —
# integer arithmetic over identical int64 cell sums, so the trajectory
# is bit-identical to the per-step distributed form (which remains below
# as the guarded fallback). The cell count is bounded by the feature
# DOMAIN (|x1 range| · |x2 range| · 2), not the corpus, so the collect
# stays driver-sized at any data scale; the cap guards a pathological
# domain.
_LOGREG_CELL_CAP = 500_000


def _logreg_fit(feat):
    """The LOGREG_STEPS integer GD loop over an arbitrary feature frame
    (shared by q_ml_logreg_exact, the fairness audit, and the conformal
    query, which fits on a hash-fold subset). Returns the weight triple,
    or None on empty input.

    One Spark job: the corpus compresses to its (x1, x2, y) cell
    histogram (a map-side-combinable count), and the GD steps run on the
    driver over exact Python ints — per-step gradients are
    Σ_cells err(cell)·cnt, the identical int64 sums the old per-step
    aggregate computed row-wise (integer addition is order-free), so the
    weight trajectory cannot differ. Cells with a NULL feature are
    counted toward n but excluded from gradient sums, matching
    F.sum's null-skipping semantics."""
    S, E, N = LOGREG_S, LOGREG_LR_SHIFT, LOGREG_STEPS
    half = S >> 1
    cells = (
        feat.groupBy("x1", "x2", "y")
        .agg(F.count("*").alias("cnt"))
        .limit(_LOGREG_CELL_CAP + 1)
        .collect()
    )
    if len(cells) > _LOGREG_CELL_CAP:
        return _logreg_fit_distributed(feat)  # domain blew the cap
    n = sum(int(r["cnt"]) for r in cells)
    if n == 0:
        return None
    dense = [
        (int(r["x1"]), int(r["x2"]), int(r["y"]), int(r["cnt"]))
        for r in cells
        if r["x1"] is not None and r["x2"] is not None and r["y"] is not None
    ]
    w = [0, 0, 0]
    for _ in range(N):
        g0 = g1 = g2 = 0
        for x1, x2, y, cnt in dense:
            z = w[0] + w[1] * x1 + w[2] * x2
            s = min(max(half + (z >> 2), 0), S)  # arithmetic >> floors, like Spark
            e = (s - y * S) * cnt
            g0 += e
            g1 += e * x1
            g2 += e * x2
        w = [
            wi - ((g // n) >> E)  # python // floors like the pmod form
            for wi, g in zip(w, (g0, g1, g2))
        ]
    return w


def _logreg_fit_distributed(feat):
    """Fallback: the original per-step distributed aggregate (one
    combinable integer-gradient job per GD step — the classic full-batch
    GD shape), used only when the cell histogram is not driver-sized."""
    S, E, N = LOGREG_S, LOGREG_LR_SHIFT, LOGREG_STEPS
    half = S >> 1
    n = feat.count()
    if n == 0:
        return None
    w = [0, 0, 0]
    for _ in range(N):
        z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
        s = F.least(
            F.greatest(F.lit(half) + F.shiftright(z, 2), F.lit(0)), F.lit(S)
        )
        err = s - F.col("y") * S
        g = feat.agg(
            F.sum(err).alias("g0"),
            F.sum(err * F.col("x1")).alias("g1"),
            F.sum(err * F.col("x2")).alias("g2"),
        ).collect()[0]
        w = [
            wi - ((int(g[f"g{i}"]) // n) >> E)  # python // floors like pmod form
            for i, wi in enumerate(w)
        ]
    return w


def _logreg_score(w):
    """Engine-side hard-sigmoid score for weight triple w (int64 col)."""
    S = LOGREG_S
    half = S >> 1
    z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    return F.least(F.greatest(F.lit(half) + F.shiftright(z, 2), F.lit(0)), F.lit(S))


def _logreg_feat_sql() -> str:
    return """
    SELECT CAST(c_nationkey AS BIGINT) AS x2,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) >> 10 AS x1,
           CASE WHEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) > 0
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
    FROM customer
    """


def _logreg_err_sql(w):  # per-row error with weights from CTE alias w
    S = LOGREG_S
    half = S >> 1
    z = f"({w}.a + {w}.b * x1 + {w}.c * x2)"
    s = f"LEAST(GREATEST({half} + ({z} >> 2), 0), {S})"
    return f"({s} - y * {S})"


def _logreg_chain(feat_sql: str) -> list[str]:
    """The unrolled integer-GD CTE chain ending at w{LOGREG_STEPS} —
    shared by the training query, the fairness audit, and the conformal
    query (which passes a fold-filtered feat_sql)."""
    S, E, N = LOGREG_S, LOGREG_LR_SHIFT, LOGREG_STEPS
    err = _logreg_err_sql

    parts = [f"feat AS ({feat_sql})",
             "meta AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM feat)",
             "w0 AS (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b, "
             "CAST(0 AS BIGINT) AS c)"]
    for i in range(1, N + 1):
        p = f"w{i - 1}"
        e = err(p)
        # LINEAR dependency chain: g{i} carries the previous weights
        # through (MAX over the 1-row cross join) so w{i} references
        # ONLY g{i} — a double reference to w{i-1} from both g{i} and
        # w{i} makes non-materialized CTE expansion exponential in N
        # (measured: 97s -> ~1s for the whole oracle).
        parts.append(
            f"g{i} AS (SELECT CAST(SUM({e}) AS BIGINT) AS g0, "
            f"CAST(SUM({e} * x1) AS BIGINT) AS g1, "
            f"CAST(SUM({e} * x2) AS BIGINT) AS g2, "
            f"MAX({p}.a) AS pa, MAX({p}.b) AS pb, MAX({p}.c) AS pc, "
            f"MAX(m.n) AS n FROM feat, {p}, meta m)"
        )
        upd = ", ".join(
            f"p{w} - (((g{g} - (((g{g} % n) + n) % n)) // n) >> {E}) AS {w}"
            for w, g in (("a", 0), ("b", 1), ("c", 2))
        )
        parts.append(f"w{i} AS (SELECT {upd} FROM g{i})")
    return parts


def _logreg_oracle() -> str:
    S, N = LOGREG_S, LOGREG_STEPS
    half = S >> 1
    parts = _logreg_chain(_logreg_feat_sql())
    zf = f"(w.a + w.b * x1 + w.c * x2)"
    sf = f"LEAST(GREATEST({half} + ({zf} >> 2), 0), {S})"
    final = (
        f"SELECT x2 AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers, "
        f"CAST(COUNT(CASE WHEN (CASE WHEN {sf} >= {half} THEN 1 ELSE 0 END) = y "
        f"THEN 1 END) AS BIGINT) AS n_correct, "
        f"w.a AS w0, w.b AS w1, w.c AS w2 "
        f"FROM feat, w{N} w GROUP BY x2, w.a, w.b, w.c"
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


@query(
    "q_ml_logreg_exact",
    oracle=_logreg_oracle(),
    tags=("ml", "glm", "logreg", "exact-audit", "iterative", "quantized"),
)
def q_ml_logreg_exact(spark, sf_dir):
    """Exactly-audited linear classifier training: LOGREG_STEPS rounds of
    full-batch gradient descent on a hard-sigmoid GLM where EVERY value
    is an int64 (see the recipe note above) — the quantized-training
    analogue of MLlib's LogisticRegression whose fit both engines
    reproduce bit-for-bit. The label (acctbal > 0) is linearly learnable
    from the quantized features, and the fit reaching ~100% train
    accuracy is pinned in pytest — the audit shows real learning, not a
    fixed-point curiosity.

    Build-time action: each step collects one 3-long gradient row while
    the DataFrame is constructed (markov/kmeans precedent).

    Scale shape: a training step is ONE map-side-combinable integer
    aggregate over the scan (the classic distributed full-batch GD /
    L-BFGS shape MLlib itself uses — treeAggregate of per-row gradient
    contributions); driver state is 3 ints. Integer gradients make the
    aggregation order-free — the property float gradient sums lack —
    so the fit is reproducible on ANY cluster topology, 32 threads or
    1000 executors."""
    S = LOGREG_S
    half = S >> 1
    feat = _logreg_feat(spark, sf_dir)
    w = _logreg_fit(feat)
    if w is None:
        return spark.createDataFrame(
            [],
            "nationkey long, n_customers long, n_correct long, "
            "w0 long, w1 long, w2 long",
        )
    s = _logreg_score(w)
    pred = F.when(s >= half, 1).otherwise(0).cast("long")
    return (
        feat.groupBy(F.col("x2").alias("nationkey"))
        .agg(
            F.count("*").alias("n_customers"),
            F.count(F.when(pred == F.col("y"), 1)).alias("n_correct"),
        )
        .select(
            "nationkey",
            "n_customers",
            "n_correct",
            F.lit(w[0]).cast("long").alias("w0"),
            F.lit(w[1]).cast("long").alias("w1"),
            F.lit(w[2]).cast("long").alias("w2"),
        )
    )


# --- q_ml_tree_stump_exact: decision-tree induction as ONE QUERY -------
#
# Tree learning, audited: a depth-1 CART split search where the split
# statistics are exact integer counts and the only float is the final
# ranking comparator — computed from identical int64s in both engines,
# so the chosen split (and every ranked candidate) hash-matches. Unlike
# the iterative audited fits (kmeans/logreg), the whole induction is
# DECLARATIVE — no driver loop, no build-time action: cumulative bin
# counts give every candidate threshold's left/right sufficient
# statistics in one window pass, and maximizing
#     (A_l*n_r + A_r*n_l) / (n_l*n_r),  A = pos^2 + neg^2
# is exactly minimizing weighted Gini impurity (constant-shift algebra).


@query(
    "q_ml_tree_stump_exact",
    oracle="""
    WITH feat AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) >> 20
                   AS f1,
               CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS f2,
               CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS y
        FROM orders
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
               CAST(SUM(y) AS BIGINT) AS p_tot
        FROM feat
    ), bins AS (
        SELECT 1 AS feature, f1 AS bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
        FROM feat GROUP BY f1
        UNION ALL
        SELECT 2, f2, COUNT(*), CAST(SUM(y) AS BIGINT) FROM feat GROUP BY f2
    ), cum AS (
        SELECT feature, bin,
               SUM(n) OVER w AS n_l, SUM(pos) OVER w AS pos_l
        FROM bins
        WINDOW w AS (PARTITION BY feature ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), cand AS (
        SELECT feature, bin AS threshold,
               CAST(n_l AS BIGINT) AS n_l, CAST(pos_l AS BIGINT) AS pos_l,
               CAST(t.n_tot - n_l AS BIGINT) AS n_r,
               CAST(t.p_tot - pos_l AS BIGINT) AS pos_r
        FROM cum, tot t
        WHERE n_l > 0 AND t.n_tot - n_l > 0
    ), scored AS (
        SELECT *,
               CAST((pos_l*pos_l + (n_l-pos_l)*(n_l-pos_l)) * n_r
                    + (pos_r*pos_r + (n_r-pos_r)*(n_r-pos_r)) * n_l AS DOUBLE)
                   / CAST(n_l * n_r AS DOUBLE) AS score
        FROM cand
    )
    SELECT feature, threshold, n_l, pos_l, n_r, pos_r,
           CAST(CASE WHEN 2*pos_l >= n_l THEN 1 ELSE 0 END AS BIGINT) AS pred_l,
           CAST(CASE WHEN 2*pos_r >= n_r THEN 1 ELSE 0 END AS BIGINT) AS pred_r,
           CAST(GREATEST(pos_l, n_l - pos_l)
                + GREATEST(pos_r, n_r - pos_r) AS BIGINT) AS n_correct,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, feature, threshold)
                AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
    tags=("ml", "tree", "cart", "exact-audit", "declarative"),
)
def q_ml_tree_stump_exact(spark, sf_dir):
    """Exactly-audited CART decision stump over orders (predict
    orderstatus='F' from binned totalprice and order month), fit as ONE
    declarative query: per-feature bin counts → one cumulative window →
    every candidate threshold's left/right (count, positives) → Gini
    ranking. The comparator double is a division of identical int64s in
    both engines (the kmeans d/n² move), ties broken by (feature,
    threshold); the top-5 candidates with leaf majority predictions and
    train-correct counts are the declared result.

    Scale shape: one combinable bin aggregate over the scan (|bins|
    rows), a window over the per-feature bin frames (driver-small), and
    nothing else — split search cost is independent of row count beyond
    the first aggregate, exactly how distributed tree learners (MLlib,
    XGBoost hist mode) evaluate splits from binned sufficient
    statistics."""
    o = t(spark, sf_dir, "orders")
    cents = (dec("o_totalprice") * 100).cast("long")
    feat = o.select(
        F.shiftright(cents, 20).alias("f1"),
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("f2"),
        (F.col("o_orderstatus") == "F").cast("long").alias("y"),
    )
    tot = feat.agg(
        F.count("*").alias("n_tot"), F.sum("y").alias("p_tot")
    )
    bins = (
        feat.groupBy(F.col("f1").alias("bin"))
        .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
        .select(F.lit(1).alias("feature"), "bin", "n", "pos")
        .unionByName(
            feat.groupBy(F.col("f2").alias("bin"))
            .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
            .select(F.lit(2).alias("feature"), "bin", "n", "pos")
        )
    )
    wcum = W.partitionBy("feature").orderBy("bin").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = bins.select(
        "feature",
        F.col("bin").alias("threshold"),
        F.sum("n").over(wcum).alias("n_l"),
        F.sum("pos").over(wcum).alias("pos_l"),
    )
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("n_r", F.col("n_tot") - F.col("n_l"))
        .withColumn("pos_r", F.col("p_tot") - F.col("pos_l"))
        .filter((F.col("n_l") > 0) & (F.col("n_r") > 0))
    )
    a_l = F.col("pos_l") * F.col("pos_l") + (F.col("n_l") - F.col("pos_l")) * (
        F.col("n_l") - F.col("pos_l")
    )
    a_r = F.col("pos_r") * F.col("pos_r") + (F.col("n_r") - F.col("pos_r")) * (
        F.col("n_r") - F.col("pos_r")
    )
    score = (a_l * F.col("n_r") + a_r * F.col("n_l")).cast("double") / (
        F.col("n_l") * F.col("n_r")
    ).cast("double")
    wr = W.orderBy(score.desc(), "feature", "threshold")
    return (
        cand.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "feature",
            "threshold",
            F.col("n_l").cast("long").alias("n_l"),
            F.col("pos_l").cast("long").alias("pos_l"),
            F.col("n_r").cast("long").alias("n_r"),
            F.col("pos_r").cast("long").alias("pos_r"),
            F.when(2 * F.col("pos_l") >= F.col("n_l"), 1)
            .otherwise(0)
            .cast("long")
            .alias("pred_l"),
            F.when(2 * F.col("pos_r") >= F.col("n_r"), 1)
            .otherwise(0)
            .cast("long")
            .alias("pred_r"),
            (
                F.greatest(F.col("pos_l"), F.col("n_l") - F.col("pos_l"))
                + F.greatest(F.col("pos_r"), F.col("n_r") - F.col("pos_r"))
            )
            .cast("long")
            .alias("n_correct"),
            "rank",
        )
    )


# --- q_ml_tree_depth2_exact: declarative depth-2 CART -------------------
#
# The stump's split search, RECURSED ONCE — still zero driver loops: the
# root split is the argmax candidate over the full table's binned
# statistics; each side's child split re-runs the identical search over
# side-filtered bins, with the root row joined in so the whole two-level
# tree materializes in one declarative plan. Same exactness contract as
# the stump (integer sufficient statistics, comparator double from
# identical int64s, (feature, threshold) tie-breaks).

_TREE2_FEAT_SQL = """
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) >> 20
               AS f1,
           CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS f2,
           CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS y
    FROM orders
"""

_TREE2_SEARCH_SQL = """
    bins{sfx} AS (
        SELECT side, 1 AS feature, f1 AS bin, COUNT(*) AS n,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM sided{sfx} GROUP BY side, f1
        UNION ALL
        SELECT side, 2, f2, COUNT(*), CAST(SUM(y) AS BIGINT)
        FROM sided{sfx} GROUP BY side, f2
    ), tots{sfx} AS (
        SELECT side, CAST(SUM(n) AS BIGINT) AS n_tot,
               CAST(SUM(pos) AS BIGINT) AS p_tot
        FROM (SELECT * FROM bins{sfx} WHERE feature = 1) GROUP BY side
    ), cum{sfx} AS (
        SELECT side, feature, bin,
               SUM(n) OVER w AS n_l, SUM(pos) OVER w AS pos_l
        FROM bins{sfx}
        WINDOW w AS (PARTITION BY side, feature ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), cand{sfx} AS (
        SELECT c.side, feature, bin AS threshold,
               CAST(n_l AS BIGINT) AS n_l, CAST(pos_l AS BIGINT) AS pos_l,
               CAST(t.n_tot - n_l AS BIGINT) AS n_r,
               CAST(t.p_tot - pos_l AS BIGINT) AS pos_r
        FROM cum{sfx} c JOIN tots{sfx} t ON c.side = t.side
        WHERE n_l > 0 AND t.n_tot - n_l > 0
    ), best{sfx} AS (
        SELECT * FROM (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY side ORDER BY
                       CAST((pos_l*pos_l + (n_l-pos_l)*(n_l-pos_l)) * n_r
                            + (pos_r*pos_r + (n_r-pos_r)*(n_r-pos_r)) * n_l
                            AS DOUBLE) / CAST(n_l * n_r AS DOUBLE) DESC,
                       feature, threshold) AS rk
            FROM cand{sfx})
        WHERE rk = 1
    )
"""


@query(
    "q_ml_tree_depth2_exact",
    oracle=(
        "WITH feat AS (" + _TREE2_FEAT_SQL + "),\n"
        "sided0 AS (SELECT 0 AS side, * FROM feat),\n"
        + _TREE2_SEARCH_SQL.format(sfx="0") + ",\n"
        "sided1 AS (\n"
        "    SELECT CASE WHEN (CASE WHEN r.feature = 1 THEN f.f1 ELSE f.f2 END)\n"
        "                     <= r.threshold THEN 1 ELSE 2 END AS side, f.*\n"
        "    FROM feat f, best0 r\n"
        "),\n"
        + _TREE2_SEARCH_SQL.format(sfx="1") + "\n"
        "SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS side,\n"
        "       CAST(feature AS BIGINT) AS feature, threshold,\n"
        "       n_l, pos_l, n_r, pos_r,\n"
        "       CAST(GREATEST(pos_l, n_l - pos_l)\n"
        "            + GREATEST(pos_r, n_r - pos_r) AS BIGINT) AS n_correct\n"
        "FROM best0\n"
        "UNION ALL\n"
        "SELECT CAST(side AS BIGINT), CAST(side AS BIGINT),\n"
        "       CAST(feature AS BIGINT), threshold, n_l, pos_l, n_r, pos_r,\n"
        "       CAST(GREATEST(pos_l, n_l - pos_l)\n"
        "            + GREATEST(pos_r, n_r - pos_r) AS BIGINT)\n"
        "FROM best1"
    ),
    tags=("ml", "tree", "cart", "exact-audit", "declarative"),
)
def q_ml_tree_depth2_exact(spark, sf_dir):
    """Depth-2 CART over orders: the root split is the Gini-argmax
    candidate (the stump search), and each side's child split re-runs
    the identical search over side-filtered binned statistics. Output:
    three rows (root + two children) with exact integer split
    statistics and per-node train-correct counts.

    Scale shape (the logreg playbook, guide §1.2/§2.3): every split
    decision depends on rows only through their (f1, f2, y-count) cell,
    and the joint grid is bounded by the feature DOMAIN (|price-bin
    range| x 12 months), not the corpus — so ONE combinable aggregate
    compresses the scan to its joint histogram and the root search, the
    routing, and both child searches replay on the driver over exact
    Python ints with the identical comparator double (two long->double
    casts + one division) and (score DESC, feature, threshold)
    tie-break. The declarative two-pass form — which scanned orders 30x
    across the union/broadcast branches — remains below as
    `_tree_depth2_distributed`, the fallback past _TREE2_GRID_CAP cells
    (or on NULL bins / int64-range statistics, where Spark's wrapping
    arithmetic must adjudicate)."""
    feat = _tree2_feat(spark, sf_dir)
    grid = (
        feat.groupBy("f1", "f2")
        .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
        .limit(_TREE2_GRID_CAP + 1)
        .collect()
    )
    schema = (
        "node long, side long, feature long, threshold long, n_l long, "
        "pos_l long, n_r long, pos_r long, n_correct long"
    )
    if len(grid) > _TREE2_GRID_CAP or any(
        r["f1"] is None or r["f2"] is None or (r["pos"] is None and r["n"] > 0)
        for r in grid
    ):
        return _tree_depth2_distributed(spark, sf_dir)
    cells0 = {
        (0, int(r["f1"]), int(r["f2"])): (int(r["n"]), int(r["pos"]))
        for r in grid
    }
    root = _tree2_best_splits(cells0)
    if root is None:  # int64-range guard tripped
        return _tree_depth2_distributed(spark, sf_dir)
    if not root:  # no valid split (empty table or a single bin)
        return spark.createDataFrame([], schema)
    rf, rt = root[0][0], root[0][1]
    cells12 = {
        (1 if (f1v if rf == 1 else f2v) <= rt else 2, f1v, f2v): np_
        for (_s, f1v, f2v), np_ in cells0.items()
    }
    children = _tree2_best_splits(cells12)
    if children is None:
        return _tree_depth2_distributed(spark, sf_dir)
    rows = []
    for node, side, tup in [(0, 0, root[0])] + [
        (s, s, children[s]) for s in sorted(children)
    ]:
        f, b, n_l, p_l, n_r, p_r = tup
        correct = max(p_l, n_l - p_l) + max(p_r, n_r - p_r)
        rows.append((node, side, f, b, n_l, p_l, n_r, p_r, correct))
    return spark.createDataFrame(rows, schema)


def _tree2_feat(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    cents = (dec("o_totalprice") * 100).cast("long")
    return o.select(
        F.shiftright(cents, 20).alias("f1"),
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("f2"),
        (F.col("o_orderstatus") == "F").cast("long").alias("y"),
    )


# The joint (f1, f2) grid is bounded by the feature domain, not rows;
# the cap guards a pathological domain (same rationale as
# _LOGREG_CELL_CAP).
_TREE2_GRID_CAP = 500_000
_I64_MAX = (1 << 63) - 1


def _tree2_best_splits(cells):
    """Replay the per-side Gini split search over local (side, f1, f2)
    -> (n, pos) cells with EXACTLY the distributed arithmetic: exact
    integer sufficient statistics, the comparator double from the same
    two long->double casts + one division, and the (score DESC, feature,
    threshold) row_number tie-break as a running min over (-score,
    feature, threshold). Returns {side: (feature, threshold, n_l, pos_l,
    n_r, pos_r)}, or None when any statistic leaves int64 range (there
    the distributed form's wrapping arithmetic must adjudicate)."""
    from collections import defaultdict

    bins = defaultdict(lambda: [0, 0])
    for (s, f1v, f2v), (n, p) in cells.items():
        b = bins[(s, 1, f1v)]
        b[0] += n
        b[1] += p
        b = bins[(s, 2, f2v)]
        b[0] += n
        b[1] += p
    tots = defaultdict(lambda: [0, 0])
    per = defaultdict(list)
    for (s, f, b), (n, p) in bins.items():
        if f == 1:
            t_ = tots[s]
            t_[0] += n
            t_[1] += p
        per[(s, f)].append((b, n, p))
    best = {}
    for (s, f), lst in per.items():
        lst.sort()
        n_tot, p_tot = tots[s]
        n_l = p_l = 0
        for b, n, p in lst:
            n_l += n
            p_l += p
            n_r, p_r = n_tot - n_l, p_tot - p_l
            if n_l <= 0 or n_r <= 0:
                continue
            a_l = p_l * p_l + (n_l - p_l) * (n_l - p_l)
            a_r = p_r * p_r + (n_r - p_r) * (n_r - p_r)
            num = a_l * n_r + a_r * n_l
            den = n_l * n_r
            if num > _I64_MAX or den > _I64_MAX:
                return None
            key = (-(float(num) / float(den)), f, b)
            cur = best.get(s)
            if cur is None or key < cur[0]:
                best[s] = (key, (f, b, n_l, p_l, n_r, p_r))
    return {s: payload for s, (_key, payload) in best.items()}


def _tree_depth2_distributed(spark, sf_dir):
    """The verbatim one-plan declarative form (two binned aggregates +
    broadcast-routed second search) — the fallback when the joint grid
    is not driver-sized or its statistics leave int64 range."""
    feat = _tree2_feat(spark, sf_dir)

    def search(sided):
        bins = (
            sided.groupBy("side", F.col("f1").alias("bin"))
            .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
            .select("side", F.lit(1).alias("feature"), "bin", "n", "pos")
            .unionByName(
                sided.groupBy("side", F.col("f2").alias("bin"))
                .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
                .select("side", F.lit(2).alias("feature"), "bin", "n", "pos")
            )
        )
        tots = (
            bins.filter(F.col("feature") == 1)
            .groupBy("side")
            .agg(F.sum("n").alias("n_tot"), F.sum("pos").alias("p_tot"))
        )
        wcum = W.partitionBy("side", "feature").orderBy("bin").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        cum = bins.select(
            "side",
            "feature",
            F.col("bin").alias("threshold"),
            F.sum("n").over(wcum).alias("n_l"),
            F.sum("pos").over(wcum).alias("pos_l"),
        )
        cand = (
            cum.join(F.broadcast(tots), "side")
            .withColumn("n_r", F.col("n_tot") - F.col("n_l"))
            .withColumn("pos_r", F.col("p_tot") - F.col("pos_l"))
            .filter((F.col("n_l") > 0) & (F.col("n_r") > 0))
        )
        a_l = F.col("pos_l") * F.col("pos_l") + (F.col("n_l") - F.col("pos_l")) * (
            F.col("n_l") - F.col("pos_l")
        )
        a_r = F.col("pos_r") * F.col("pos_r") + (F.col("n_r") - F.col("pos_r")) * (
            F.col("n_r") - F.col("pos_r")
        )
        score = (a_l * F.col("n_r") + a_r * F.col("n_l")).cast("double") / (
            F.col("n_l") * F.col("n_r")
        ).cast("double")
        wr = W.partitionBy("side").orderBy(score.desc(), "feature", "threshold")
        return (
            cand.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") == 1)
            .select(
                "side", "feature", "threshold", "n_l", "pos_l", "n_r", "pos_r"
            )
        )

    root = search(feat.withColumn("side", F.lit(0)))
    routed = feat.crossJoin(
        F.broadcast(
            root.select(
                F.col("feature").alias("rf"), F.col("threshold").alias("rt")
            )
        )
    ).withColumn(
        "side",
        F.when(
            F.when(F.col("rf") == 1, F.col("f1")).otherwise(F.col("f2"))
            <= F.col("rt"),
            1,
        ).otherwise(2),
    )
    children = search(routed)
    correct = (
        F.greatest(F.col("pos_l"), F.col("n_l") - F.col("pos_l"))
        + F.greatest(F.col("pos_r"), F.col("n_r") - F.col("pos_r"))
    ).cast("long")
    out_cols = [
        F.col("side").cast("long").alias("node"),
        F.col("side").cast("long").alias("side"),
        F.col("feature").cast("long").alias("feature"),
        F.col("threshold").cast("long").alias("threshold"),
        F.col("n_l").cast("long").alias("n_l"),
        F.col("pos_l").cast("long").alias("pos_l"),
        F.col("n_r").cast("long").alias("n_r"),
        F.col("pos_r").cast("long").alias("pos_r"),
        correct.alias("n_correct"),
    ]
    return root.select(*out_cols).unionByName(children.select(*out_cols))


# --- q_ml_cv_stumps_exact: cross-validated stumps, declaratively --------
#
# The audited answer to MLlib's CrossValidator (rows-only by seed): a
# 3-fold cross-validated stump ensemble where the fold assignment is a
# deterministic md5 hash both engines compute, TRAIN statistics are
# derived by SUBTRACTION (train = total − heldout fold) from ONE binned
# aggregate, and each fold's best split is evaluated on its held-out
# fold — honest out-of-fold accuracy with exact integer statistics end
# to end, no driver loop, no seed.

CV_FOLDS = 3


@query(
    "q_ml_cv_stumps_exact",
    oracle=f"""
    WITH feat AS (
        SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 9, 8))
                    AS BIGINT) % {CV_FOLDS} AS fold,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) >> 20
                   AS f1,
               CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS f2,
               CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS y
        FROM orders
    ), binsf AS (
        SELECT fold, feature, bin, CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS pos
        FROM (
            SELECT fold, 1 AS feature, f1 AS bin, COUNT(*) AS n,
                   SUM(y) AS pos FROM feat GROUP BY fold, f1
            UNION ALL
            SELECT fold, 2, f2, COUNT(*), SUM(y) FROM feat GROUP BY fold, f2
        ) GROUP BY fold, feature, bin
    ), binst AS (
        SELECT feature, bin, CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS pos
        FROM binsf GROUP BY feature, bin
    ), folds AS (
        SELECT CAST(g.g AS BIGINT) AS fold FROM range(0, {CV_FOLDS}) g(g)
    ), grid AS (
        SELECT folds.fold, t.feature, t.bin, t.n AS tn, t.pos AS tpos,
               COALESCE(f.n, 0) AS fn, COALESCE(f.pos, 0) AS fpos
        FROM binst t CROSS JOIN folds
        LEFT JOIN binsf f ON f.fold = folds.fold AND f.feature = t.feature
                          AND f.bin = t.bin
    ), cum AS (
        SELECT fold, feature, bin,
               SUM(tn - fn) OVER w AS tr_n_l, SUM(tpos - fpos) OVER w AS tr_p_l,
               SUM(fn) OVER w AS ho_n_l, SUM(fpos) OVER w AS ho_p_l
        FROM grid
        WINDOW w AS (PARTITION BY fold, feature ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), tots AS (
        SELECT fold,
               CAST(SUM(tn - fn) AS BIGINT) AS tr_n, CAST(SUM(tpos - fpos) AS BIGINT) AS tr_p,
               CAST(SUM(fn) AS BIGINT) AS ho_n, CAST(SUM(fpos) AS BIGINT) AS ho_p
        FROM grid WHERE feature = 1 GROUP BY fold
    ), cand AS (
        SELECT c.fold, feature, bin AS threshold,
               CAST(tr_n_l AS BIGINT) AS n_l, CAST(tr_p_l AS BIGINT) AS pos_l,
               CAST(t.tr_n - tr_n_l AS BIGINT) AS n_r,
               CAST(t.tr_p - tr_p_l AS BIGINT) AS pos_r,
               CAST(ho_n_l AS BIGINT) AS ho_n_l, CAST(ho_p_l AS BIGINT) AS ho_p_l,
               t.ho_n, t.ho_p
        FROM cum c JOIN tots t ON c.fold = t.fold
        WHERE tr_n_l > 0 AND t.tr_n - tr_n_l > 0
    ), best AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY fold ORDER BY
                CAST((pos_l*pos_l + (n_l-pos_l)*(n_l-pos_l)) * n_r
                     + (pos_r*pos_r + (n_r-pos_r)*(n_r-pos_r)) * n_l AS DOUBLE)
                / CAST(n_l * n_r AS DOUBLE) DESC, feature, threshold) AS rk
            FROM cand)
        WHERE rk = 1
    )
    SELECT fold, CAST(feature AS BIGINT) AS feature, threshold,
           n_l, pos_l, n_r, pos_r,
           CAST(ho_n AS BIGINT) AS oof_n,
           CAST((CASE WHEN 2*pos_l >= n_l THEN ho_p_l ELSE ho_n_l - ho_p_l END)
                + (CASE WHEN 2*pos_r >= n_r THEN ho_p - ho_p_l
                        ELSE (ho_n - ho_n_l) - (ho_p - ho_p_l) END)
                AS BIGINT) AS oof_correct
    FROM best
    """,
    tags=("ml", "tree", "cross-validation", "exact-audit", "declarative"),
)
def q_ml_cv_stumps_exact(spark, sf_dir):
    """3-fold cross-validated decision stumps, the exactly-audited
    counterpart of q_ml_cross_validation (rows-only, seeded): folds come
    from a deterministic md5 hash of the order key, each fold's stump
    trains on the OTHER folds' binned statistics (train = total −
    heldout, pure subtraction from one aggregate), and the declared
    result is each stump's split plus its HONEST out-of-fold accuracy.

    Scale shape (the logreg playbook): every fold's search depends on
    rows only through the (fold, f1, f2, y-count) cell, and the grid is
    bounded by |folds| x the feature DOMAIN — so ONE combinable
    aggregate compresses the scan and the k-fold subtraction sweep,
    cumulative split search, and out-of-fold scoring replay on the
    driver over exact Python ints with the identical comparator double
    and (score DESC, feature, threshold) tie-break. The declarative
    one-plan form stays below as `_cv_stumps_distributed`, the fallback
    past _TREE2_GRID_CAP cells (or on NULL bins / int64-range
    statistics)."""
    feat = _cvs_feat(spark, sf_dir)
    grid = (
        feat.groupBy("fold", "f1", "f2")
        .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
        .limit(_TREE2_GRID_CAP + 1)
        .collect()
    )
    schema = (
        "fold long, feature long, threshold long, n_l long, pos_l long, "
        "n_r long, pos_r long, oof_n long, oof_correct long"
    )
    if len(grid) > _TREE2_GRID_CAP or any(
        r["fold"] is None
        or r["f1"] is None
        or r["f2"] is None
        or (r["pos"] is None and r["n"] > 0)
        for r in grid
    ):
        return _cv_stumps_distributed(spark, sf_dir)
    from collections import defaultdict

    binsf = defaultdict(lambda: [0, 0])  # (fold, feature, bin) -> [n, pos]
    binst = defaultdict(lambda: [0, 0])  # (feature, bin) -> [tn, tpos]
    for r in grid:
        fo, n, p = int(r["fold"]), int(r["n"]), int(r["pos"])
        for feat_id, b in ((1, int(r["f1"])), (2, int(r["f2"]))):
            c = binsf[(fo, feat_id, b)]
            c[0] += n
            c[1] += p
            c = binst[(feat_id, b)]
            c[0] += n
            c[1] += p
    # per-fold totals from the feature-1 bin frame (train by subtraction)
    tots = {fo: [0, 0, 0, 0] for fo in range(CV_FOLDS)}  # tr_n,tr_p,ho_n,ho_p
    for (f, b), (tn, tp) in binst.items():
        if f != 1:
            continue
        for fo in range(CV_FOLDS):
            fn, fp = binsf.get((fo, 1, b), (0, 0))
            t_ = tots[fo]
            t_[0] += tn - fn
            t_[1] += tp - fp
            t_[2] += fn
            t_[3] += fp
    bins_by_feat = {
        f: sorted(b for (ff, b) in binst if ff == f) for f in (1, 2)
    }
    best = {}  # fold -> (key, payload)
    for fo in range(CV_FOLDS):
        tr_n, tr_p = tots[fo][0], tots[fo][1]
        for f in (1, 2):
            tr_n_l = tr_p_l = ho_n_l = ho_p_l = 0
            for b in bins_by_feat[f]:
                tn, tp = binst[(f, b)]
                fn, fp = binsf.get((fo, f, b), (0, 0))
                tr_n_l += tn - fn
                tr_p_l += tp - fp
                ho_n_l += fn
                ho_p_l += fp
                n_l, p_l = tr_n_l, tr_p_l
                n_r, p_r = tr_n - tr_n_l, tr_p - tr_p_l
                if n_l <= 0 or n_r <= 0:
                    continue
                a_l = p_l * p_l + (n_l - p_l) * (n_l - p_l)
                a_r = p_r * p_r + (n_r - p_r) * (n_r - p_r)
                num = a_l * n_r + a_r * n_l
                den = n_l * n_r
                if num > _I64_MAX or den > _I64_MAX:
                    return _cv_stumps_distributed(spark, sf_dir)
                key = (-(float(num) / float(den)), f, b)
                cur = best.get(fo)
                if cur is None or key < cur[0]:
                    best[fo] = (key, (f, b, n_l, p_l, n_r, p_r, ho_n_l, ho_p_l))
    rows = []
    for fo in sorted(best):
        f, b, n_l, p_l, n_r, p_r, ho_n_l, ho_p_l = best[fo][1]
        ho_n, ho_p = tots[fo][2], tots[fo][3]
        oof = (ho_p_l if 2 * p_l >= n_l else ho_n_l - ho_p_l) + (
            (ho_p - ho_p_l)
            if 2 * p_r >= n_r
            else (ho_n - ho_n_l) - (ho_p - ho_p_l)
        )
        rows.append((fo, f, b, n_l, p_l, n_r, p_r, ho_n, oof))
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(rows, schema)


def _cvs_feat(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    cents = (dec("o_totalprice") * 100).cast("long")
    fold = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 9, 8), 16, 10)
        .cast("long")
        % CV_FOLDS
    )
    return o.select(
        fold.alias("fold"),
        F.shiftright(cents, 20).alias("f1"),
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("f2"),
        (F.col("o_orderstatus") == "F").cast("long").alias("y"),
    )


def _cv_stumps_distributed(spark, sf_dir):
    """The verbatim one-plan declarative form (binned aggregate + fold
    cross-join + windowed search) — the fallback when the joint grid is
    not driver-sized or its statistics leave int64 range."""
    feat = _cvs_feat(spark, sf_dir)
    binsf = (
        feat.groupBy("fold", F.col("f1").alias("bin"))
        .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
        .select("fold", F.lit(1).alias("feature"), "bin", "n", "pos")
        .unionByName(
            feat.groupBy("fold", F.col("f2").alias("bin"))
            .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
            .select("fold", F.lit(2).alias("feature"), "bin", "n", "pos")
        )
    )
    binst = binsf.groupBy("feature", "bin").agg(
        F.sum("n").alias("tn"), F.sum("pos").alias("tpos")
    )
    folds = spark.range(CV_FOLDS).select(F.col("id").alias("fold"))
    grid = (
        binst.crossJoin(F.broadcast(folds))
        .join(binsf, ["fold", "feature", "bin"], "left")
        .select(
            "fold",
            "feature",
            "bin",
            "tn",
            "tpos",
            F.coalesce(F.col("n"), F.lit(0)).alias("fn"),
            F.coalesce(F.col("pos"), F.lit(0)).alias("fpos"),
        )
    )
    wcum = W.partitionBy("fold", "feature").orderBy("bin").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = grid.select(
        "fold",
        "feature",
        F.col("bin").alias("threshold"),
        F.sum(F.col("tn") - F.col("fn")).over(wcum).alias("tr_n_l"),
        F.sum(F.col("tpos") - F.col("fpos")).over(wcum).alias("tr_p_l"),
        F.sum("fn").over(wcum).alias("ho_n_l"),
        F.sum("fpos").over(wcum).alias("ho_p_l"),
    )
    tots = (
        grid.filter(F.col("feature") == 1)
        .groupBy("fold")
        .agg(
            F.sum(F.col("tn") - F.col("fn")).alias("tr_n"),
            F.sum(F.col("tpos") - F.col("fpos")).alias("tr_p"),
            F.sum("fn").alias("ho_n"),
            F.sum("fpos").alias("ho_p"),
        )
    )
    cand = (
        cum.join(F.broadcast(tots), "fold")
        .withColumn("n_r", F.col("tr_n") - F.col("tr_n_l"))
        .withColumn("pos_r", F.col("tr_p") - F.col("tr_p_l"))
        .filter((F.col("tr_n_l") > 0) & (F.col("n_r") > 0))
    )
    n_l, pos_l = F.col("tr_n_l"), F.col("tr_p_l")
    a_l = pos_l * pos_l + (n_l - pos_l) * (n_l - pos_l)
    a_r = F.col("pos_r") * F.col("pos_r") + (F.col("n_r") - F.col("pos_r")) * (
        F.col("n_r") - F.col("pos_r")
    )
    score = (a_l * F.col("n_r") + a_r * n_l).cast("double") / (
        n_l * F.col("n_r")
    ).cast("double")
    wr = W.partitionBy("fold").orderBy(score.desc(), "feature", "threshold")
    best = cand.withColumn("rk", F.row_number().over(wr)).filter(F.col("rk") == 1)
    oof_correct = (
        F.when(2 * pos_l >= n_l, F.col("ho_p_l")).otherwise(
            F.col("ho_n_l") - F.col("ho_p_l")
        )
        + F.when(
            2 * F.col("pos_r") >= F.col("n_r"), F.col("ho_p") - F.col("ho_p_l")
        ).otherwise(
            (F.col("ho_n") - F.col("ho_n_l")) - (F.col("ho_p") - F.col("ho_p_l"))
        )
    ).cast("long")
    return best.select(
        F.col("fold").cast("long").alias("fold"),
        F.col("feature").cast("long").alias("feature"),
        F.col("threshold").cast("long").alias("threshold"),
        n_l.cast("long").alias("n_l"),
        pos_l.cast("long").alias("pos_l"),
        F.col("n_r").cast("long").alias("n_r"),
        F.col("pos_r").cast("long").alias("pos_r"),
        F.col("ho_n").cast("long").alias("oof_n"),
        oof_correct.alias("oof_correct"),
    )


def _fairness_oracle() -> str:
    S, N = LOGREG_S, LOGREG_STEPS
    half = S >> 1
    parts = _logreg_chain(_logreg_feat_sql())
    sf = f"LEAST(GREATEST({half} + ((w.a + w.b * x1 + w.c * x2) >> 2), 0), {S})"
    pred = f"(CASE WHEN {sf} >= {half} THEN 1 ELSE 0 END)"
    parts.append(
        f"conf AS (SELECT x2 AS nationkey, "
        f"CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos, "
        f"CAST(COUNT(CASE WHEN {pred} = 1 AND y = 1 THEN 1 END) AS BIGINT) AS tp, "
        f"CAST(COUNT(CASE WHEN {pred} = 1 AND y = 0 THEN 1 END) AS BIGINT) AS fp "
        f"FROM feat, w{N} w GROUP BY x2)"
    )
    final = """
    SELECT nationkey, n, pos, tp, fp,
           ROUND(CASE WHEN pos > 0 THEN CAST(tp AS DOUBLE) / pos END, 6) AS tpr,
           ROUND(CASE WHEN n - pos > 0 THEN CAST(fp AS DOUBLE) / (n - pos) END, 6)
               AS fpr,
           ROUND(MAX(CASE WHEN pos > 0 THEN CAST(tp AS DOUBLE) / pos END) OVER ()
                 - MIN(CASE WHEN pos > 0 THEN CAST(tp AS DOUBLE) / pos END) OVER (),
                 6) AS tpr_gap,
           ROUND(MAX(CASE WHEN n - pos > 0 THEN CAST(fp AS DOUBLE) / (n - pos) END)
                     OVER ()
                 - MIN(CASE WHEN n - pos > 0 THEN CAST(fp AS DOUBLE) / (n - pos) END)
                     OVER (), 6) AS fpr_gap
    FROM conf"""
    return "WITH " + ",\n".join(parts) + "\n" + final


@query(
    "q_ml_fairness_audit",
    oracle=_fairness_oracle(),
    tags=("ml", "fairness", "audit", "exact-audit", "glm"),
)
def q_ml_fairness_audit(spark, sf_dir):
    """Group-fairness audit of the integer GLM (equalized-odds surface):
    per protected group (nation), the exact confusion counts of the
    trained classifier, the group TPR/FPR, and the corpus-wide TPR/FPR
    GAPS (max − min across groups) — the equalized-odds disparity a
    model-governance review reads. Everything through the confusion
    counts is exact int64 (the audited GD fit + integer predictions);
    rates are single divisions of identical ints rounded 6dp.

    Scale shape: ONE combinable per-group confusion aggregate over the
    scan (the ml/metrics.py one-job discipline); the gap window runs
    over the |groups| frame. Auditing a 100 TB scored corpus costs one
    pass — fairness monitoring should never be the expensive part."""
    S = LOGREG_S
    half = S >> 1
    feat = _logreg_feat(spark, sf_dir)
    w = _logreg_fit(feat)
    if w is None:
        return spark.createDataFrame(
            [],
            "nationkey long, n long, pos long, tp long, fp long, "
            "tpr double, fpr double, tpr_gap double, fpr_gap double",
        )
    pred = F.when(_logreg_score(w) >= half, 1).otherwise(0)
    conf = feat.groupBy(F.col("x2").alias("nationkey")).agg(
        F.count("*").alias("n"),
        F.sum("y").alias("pos"),
        F.count(F.when((pred == 1) & (F.col("y") == 1), 1)).alias("tp"),
        F.count(F.when((pred == 1) & (F.col("y") == 0), 1)).alias("fp"),
    )
    tpr = F.when(
        F.col("pos") > 0, F.col("tp").cast("double") / F.col("pos")
    )
    fpr = F.when(
        F.col("n") - F.col("pos") > 0,
        F.col("fp").cast("double") / (F.col("n") - F.col("pos")),
    )
    wall = W.partitionBy()
    return conf.select(
        "nationkey",
        F.col("n").cast("long").alias("n"),
        F.col("pos").cast("long").alias("pos"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.round(tpr, 6).alias("tpr"),
        F.round(fpr, 6).alias("fpr"),
        F.round(F.max(tpr).over(wall) - F.min(tpr).over(wall), 6).alias("tpr_gap"),
        F.round(F.max(fpr).over(wall) - F.min(fpr).over(wall), 6).alias("fpr_gap"),
    )


# --- q_ml_conformal_exact: split-conformal prediction, audited ----------
CONF_ALPHA_NUM = 9  # coverage target 1-alpha = 9/10


def _conformal_feat_sql() -> str:
    return """
    SELECT CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8))
                AS BIGINT) % 3 AS fold,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) >> 10 AS x1,
           CAST(c_nationkey AS BIGINT) AS x2,
           CASE WHEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) > 0
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
    FROM customer
    """


def _conformal_oracle() -> str:
    S, N = LOGREG_S, LOGREG_STEPS
    half = S >> 1
    parts = _logreg_chain("SELECT x1, x2, y FROM allfeat WHERE fold = 0")
    parts.insert(0, f"allfeat AS ({_conformal_feat_sql()})")
    sf = f"LEAST(GREATEST({half} + ((w.a + w.b * x1 + w.c * x2) >> 2), 0), {S})"
    parts.append(
        f"scored AS (SELECT fold, x2, y, {sf} AS s FROM allfeat, w{N} w)"
    )
    parts.append(
        f"calib AS (SELECT CASE WHEN y = 1 THEN {S} - s ELSE s END AS r "
        f"FROM scored WHERE fold = 1)"
    )
    parts.append(
        "kq AS (SELECT (9 * (COUNT(*) + 1) + 9) // 10 AS k FROM calib)"
    )
    parts.append(
        "rcum AS (SELECT r, SUM(COUNT(*)) OVER (ORDER BY r "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum "
        "FROM calib GROUP BY r)"
    )
    parts.append(
        "qhat AS (SELECT CAST(MIN(r) AS BIGINT) AS q FROM rcum, kq "
        "WHERE cum >= kq.k)"
    )
    final = f"""
    SELECT x2 AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(COUNT(CASE WHEN (CASE WHEN y = 1 THEN {S} - s ELSE s END)
                           <= q.q THEN 1 END) AS BIGINT) AS n_covered,
           CAST(SUM((CASE WHEN {S} - s <= q.q THEN 1 ELSE 0 END)
                    + (CASE WHEN s <= q.q THEN 1 ELSE 0 END)) AS BIGINT)
               AS sum_set_size,
           q.q AS q_hat
    FROM scored, qhat q WHERE fold = 2 GROUP BY x2, q.q"""
    return "WITH " + ",\n".join(parts) + "\n" + final


@query(
    "q_ml_conformal_exact",
    oracle=_conformal_oracle(),
    tags=("ml", "conformal", "uncertainty", "exact-audit", "glm"),
)
def q_ml_conformal_exact(spark, sf_dir):
    """Split-conformal prediction (Vovk; Angelopoulos & Bates 2022) over
    the integer GLM — distribution-free uncertainty with EXACT integer
    machinery end to end: md5 folds (train/calibrate/test), the audited
    GD fit on the train fold, integer nonconformity scores r = S −
    score(true class), the calibration quantile q̂ as the k-th smallest
    r with k = ⌈(n_cal+1)(1−α)⌉ computed by integer arithmetic over the
    BOUNDED score domain (counts per r value + running sum — the
    quantile_two_phase discipline, never a global sort), and per-group
    test coverage + prediction-set sizes. The marginal-coverage
    guarantee (≥ 90%) is pinned in pytest.

    Scale shape: one combinable fold-scored aggregate per stage; the
    calibration quantile aggregates over ≤ S+1 distinct score values
    regardless of corpus size; conformalizing a 100 TB scored corpus is
    two passes."""
    S = LOGREG_S
    c = t(spark, sf_dir, "customer")
    cents = (dec("c_acctbal") * 100).cast("long")
    allfeat = c.select(
        (
            F.conv(
                F.substring(F.md5(F.col("c_custkey").cast("string")), 9, 8), 16, 10
            ).cast("long")
            % 3
        ).alias("fold"),
        F.shiftright(cents, 10).alias("x1"),
        F.col("c_nationkey").cast("long").alias("x2"),
        (cents > 0).cast("long").alias("y"),
    )
    w = _logreg_fit(allfeat.filter(F.col("fold") == 0))
    if w is None:
        return spark.createDataFrame(
            [],
            "nationkey long, n_test long, n_covered long, "
            "sum_set_size long, q_hat long",
        )
    scored = allfeat.select(
        "fold", "x2", "y", _logreg_score(w).alias("s")
    )
    r_true = F.when(F.col("y") == 1, F.lit(S) - F.col("s")).otherwise(F.col("s"))
    calib = scored.filter(F.col("fold") == 1).select(r_true.alias("r"))
    kq = calib.agg(
        ((9 * (F.count("*") + 1) + 9) / 10).cast("long").alias("k")
    )
    wcum = W.orderBy("r").rowsBetween(W.unboundedPreceding, W.currentRow)
    rcum = (
        calib.groupBy("r")
        .agg(F.count("*").alias("cnt"))
        .select("r", F.sum("cnt").over(wcum).alias("cum"))
    )
    qhat = (
        rcum.crossJoin(F.broadcast(kq))
        .filter(F.col("cum") >= F.col("k"))
        .agg(F.min("r").cast("long").alias("q"))
    )
    test = scored.filter(F.col("fold") == 2).crossJoin(F.broadcast(qhat))
    covered = F.when(r_true <= F.col("q"), 1)
    set_size = (
        F.when(F.lit(S) - F.col("s") <= F.col("q"), 1).otherwise(0)
        + F.when(F.col("s") <= F.col("q"), 1).otherwise(0)
    )
    return test.groupBy(F.col("x2").alias("nationkey"), F.col("q").alias("q_hat")).agg(
        F.count("*").alias("n_test"),
        F.count(covered).alias("n_covered"),
        F.sum(set_size).cast("long").alias("sum_set_size"),
    ).select("nationkey", "n_test", "n_covered", "sum_set_size", "q_hat")


# --- q_ml_ridge_exact: ridge regression via integer normal equations ----
RIDGE_LAMBDA = 1000  # integer ridge; comparable to the diagonal scale


def _ridge_oracle() -> str:
    L = RIDGE_LAMBDA
    return f"""
    WITH feat AS (
        SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) AS x1,
               CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS x2,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) >> 10
                   AS y
        FROM lineitem
    ), s AS (
        SELECT CAST(COUNT(*) AS HUGEINT) + {L} AS a00,
               CAST(SUM(x1) AS HUGEINT) AS a01,
               CAST(SUM(x2) AS HUGEINT) AS a02,
               CAST(SUM(x1 * x1) AS HUGEINT) + {L} AS a11,
               CAST(SUM(x1 * x2) AS HUGEINT) AS a12,
               CAST(SUM(x2 * x2) AS HUGEINT) + {L} AS a22,
               CAST(SUM(y) AS HUGEINT) AS b0,
               CAST(SUM(x1 * y) AS HUGEINT) AS b1,
               CAST(SUM(x2 * y) AS HUGEINT) AS b2
        FROM feat
    ), dets AS (
        SELECT a00*(a11*a22 - a12*a12) - a01*(a01*a22 - a12*a02)
                 + a02*(a01*a12 - a11*a02) AS det,
               b0*(a11*a22 - a12*a12) - a01*(b1*a22 - a12*b2)
                 + a02*(b1*a12 - a11*b2) AS det0,
               a00*(b1*a22 - b2*a12) - b0*(a01*a22 - a12*a02)
                 + a02*(a01*b2 - b1*a02) AS det1,
               a00*(a11*b2 - a12*b1) - a01*(a01*b2 - b1*a02)
                 + b0*(a01*a12 - a11*a02) AS det2,
               s.* FROM s
    )
    SELECT round_even(CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE), 6) AS w0,
           round_even(CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE), 6) AS w1,
           round_even(CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE), 6) AS w2,
           CAST(a00 - {L} AS BIGINT) AS n_rows,
           CAST(a01 AS BIGINT) AS sum_x1, CAST(a02 AS BIGINT) AS sum_x2,
           CAST(a11 - {L} AS BIGINT) AS sum_x1x1,
           CAST(a12 AS BIGINT) AS sum_x1x2,
           CAST(a22 - {L} AS BIGINT) AS sum_x2x2,
           CAST(b0 AS BIGINT) AS sum_y, CAST(b1 AS BIGINT) AS sum_x1y,
           CAST(b2 AS BIGINT) AS sum_x2y
    FROM dets
    """


@query(
    "q_ml_ridge_exact",
    oracle=_ridge_oracle(),
    tags=("ml", "regression", "ridge", "exact-audit"),
)
def q_ml_ridge_exact(spark, sf_dir):
    """Exactly-audited ridge regression (predict scaled extended price
    from quantity and discount): the normal equations' sufficient
    statistics are ONE combinable exact-int64 aggregate over the scan —
    the classic distributed closed-form fit — and the 3x3 solve runs by
    CRAMER DETERMINANTS in arbitrary-precision integer arithmetic
    (Python big ints driver-side, HUGEINT in the oracle; dets reach
    ~2^100, far past int64 but exact in both). The only floats are the
    three final det_i/det divisions, computed as correctly-rounded
    double casts of identical integers — so the fitted coefficients
    hash-match bit-for-bit alongside the raw sufficient statistics.

    Scale shape: corpus size touches ONE map-side-combinable aggregate
    (9 int64 sums); the solve is O(1) driver arithmetic. This is how
    closed-form GLMs should run at 100 TB — and unlike float normal
    equations, the integer statistics are aggregation-order-free, so
    the fit is identical on any cluster topology."""
    import numpy as np

    L = RIDGE_LAMBDA
    li = t(spark, sf_dir, "lineitem")
    feat = li.select(
        dec("l_quantity", 12).cast("long").alias("x1"),
        (dec("l_discount", 12) * 100).cast("long").alias("x2"),
        F.shiftright((dec("l_extendedprice") * 100).cast("long"), 10).alias("y"),
    )
    r = feat.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("a01"),
        F.sum("x2").alias("a02"),
        F.sum(F.col("x1") * F.col("x1")).alias("a11"),
        F.sum(F.col("x1") * F.col("x2")).alias("a12"),
        F.sum(F.col("x2") * F.col("x2")).alias("a22"),
        F.sum("y").alias("b0"),
        F.sum(F.col("x1") * F.col("y")).alias("b1"),
        F.sum(F.col("x2") * F.col("y")).alias("b2"),
    ).collect()[0]
    if r["n"] == 0:
        return spark.createDataFrame(
            [],
            "w0 double, w1 double, w2 double, n_rows long, sum_x1 long, "
            "sum_x2 long, sum_x1x1 long, sum_x1x2 long, sum_x2x2 long, "
            "sum_y long, sum_x1y long, sum_x2y long",
        )
    n = int(r["n"])
    a00, a01, a02 = n + L, int(r["a01"]), int(r["a02"])
    a11, a12, a22 = int(r["a11"]) + L, int(r["a12"]), int(r["a22"]) + L
    b0, b1, b2 = int(r["b0"]), int(r["b1"]), int(r["b2"])
    det = (
        a00 * (a11 * a22 - a12 * a12)
        - a01 * (a01 * a22 - a12 * a02)
        + a02 * (a01 * a12 - a11 * a02)
    )
    det0 = (
        b0 * (a11 * a22 - a12 * a12)
        - a01 * (b1 * a22 - a12 * b2)
        + a02 * (b1 * a12 - a11 * b2)
    )
    det1 = (
        a00 * (b1 * a22 - b2 * a12)
        - b0 * (a01 * a22 - a12 * a02)
        + a02 * (a01 * b2 - b1 * a02)
    )
    det2 = (
        a00 * (a11 * b2 - a12 * b1)
        - a01 * (a01 * b2 - b1 * a02)
        + b0 * (a01 * a12 - a11 * a02)
    )
    # float(bigint) is correctly rounded — the same rounding as the
    # oracle's CAST(HUGEINT AS DOUBLE) — so each w is the identical
    # double division.
    out = [
        (
            float(np.round(float(det0) / float(det), 6)),
            float(np.round(float(det1) / float(det), 6)),
            float(np.round(float(det2) / float(det), 6)),
            n,
            a01,
            a02,
            a11 - L,
            a12,
            a22 - L,
            b0,
            b1,
            b2,
        )
    ]
    return spark.createDataFrame(
        out,
        "w0 double, w1 double, w2 double, n_rows long, sum_x1 long, "
        "sum_x2 long, sum_x1x1 long, sum_x1x2 long, sum_x2x2 long, "
        "sum_y long, sum_x1y long, sum_x2y long",
    )


@query(
    "q_ml_woe_iv",
    oracle="""
    WITH counts AS (
        SELECT o_orderpriority AS bucket,
               COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_pos,
               COUNT(CASE WHEN o_orderstatus <> 'F' THEN 1 END) AS n_neg
        FROM orders GROUP BY o_orderpriority
    ), shares AS (
        SELECT bucket, n_pos, n_neg,
               (CAST(n_pos AS DOUBLE) + 0.5) / SUM(n_pos) OVER () AS p_pos,
               (CAST(n_neg AS DOUBLE) + 0.5) / SUM(n_neg) OVER () AS p_neg
        FROM counts
    ), terms AS (
        SELECT bucket, n_pos, n_neg,
               ROUND(LN(p_pos / p_neg), 6) AS woe,
               ROUND((p_pos - p_neg) * LN(p_pos / p_neg), 6) AS iv_term
        FROM shares
    )
    SELECT bucket, n_pos, n_neg, woe, iv_term,
           CAST(SUM(CAST(iv_term AS DECIMAL(18,6))) OVER () AS DOUBLE) AS iv_total
    FROM terms
    """,
    tags=("ml", "woe", "information-value", "feature-selection"),
)
def q_ml_woe_iv(spark, sf_dir):
    """Weight-of-Evidence encoding + Information Value for a categorical
    feature (order priority) against a binary label (status = 'F') — the
    credit-scoring-lineage feature screen every tabular pipeline runs
    before model fit. One combinable (bucket -> pos/neg counts) aggregate
    over the fact, then all WOE/IV arithmetic on the |buckets|-row frame:
    the fact is scanned once and everything after is KB-scale. Laplace
    +0.5 smoothing keeps empty cells finite. Hash discipline follows
    q_dq_drift_psi exactly: each term's single LN is rounded to 6, and
    the cross-bucket IV total sums the ROUNDED terms as DECIMAL(18,6) —
    exact and order-independent — before one cast back to double."""
    o = t(spark, sf_dir, "orders")
    counts = o.groupBy(F.col("o_orderpriority").alias("bucket")).agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_pos"),
        F.count(F.when(F.col("o_orderstatus") != "F", 1)).alias("n_neg"),
    )
    tot = W.partitionBy()
    p_pos = (F.col("n_pos").cast("double") + 0.5) / F.sum("n_pos").over(tot)
    p_neg = (F.col("n_neg").cast("double") + 0.5) / F.sum("n_neg").over(tot)
    terms = counts.select(
        "bucket",
        "n_pos",
        "n_neg",
        F.round(F.log(p_pos / p_neg), 6).alias("woe"),
        F.round((p_pos - p_neg) * F.log(p_pos / p_neg), 6).alias("iv_term"),
    )
    return terms.select(
        "*",
        F.sum(F.col("iv_term").cast("decimal(18,6)"))
        .over(tot)
        .cast("double")
        .alias("iv_total"),
    )


@query(
    "q_ml_linear_shap",
    oracle="""
    WITH s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS s_q,
               CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS s_d,
               CAST(SUM(CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS s_t
        FROM lineitem
    ), dev AS (
        SELECT f.feature, f.w, s.n,
               ABS(s.n * CAST(CAST(f.x AS DECIMAL(18,2)) * 100 AS BIGINT) - f.s) AS adev
        FROM lineitem l CROSS JOIN s
        CROSS JOIN LATERAL (VALUES
            ('l_quantity', 3, l.l_quantity, s.s_q),
            ('l_discount', -2000, l.l_discount, s.s_d),
            ('l_tax', 1500, l.l_tax, s.s_t)
        ) f(feature, w, x, s)
    )
    SELECT feature, w AS weight,
           ROUND(CAST(ABS(w) AS DOUBLE) * CAST(SUM(adev) AS BIGINT)::DOUBLE
                 / (CAST(100.0 AS DOUBLE) * n * n), 6) AS mean_abs_contrib
    FROM dev GROUP BY feature, w, n
    """,
    tags=("ml", "shap", "explainability", "feature-attribution"),
)
def q_ml_linear_shap(spark, sf_dir):
    """Exact SHAP attribution for a linear model (for linear models the
    Shapley value has the closed form phi_ij = w_j (x_ij - mean_j)):
    global feature importance = mean |phi| per feature, for a GIVEN
    model (literal integer weights — in production they come from the
    fitted model; literals keep the query self-contained). The 100 TB
    shape is two passes: one combinable aggregate for the exact
    per-feature sums (the means' sufficient statistics), then a map-only
    pass computing |n*x - S| per (row, feature) via a broadcast 1-row
    stats frame and an explode over the 3-entry feature spec — no
    per-row model dispatch, no Python. All deviations are exact int64
    (x rides a decimal(18,2) cents cast, |n*x100 - S| avoids ever
    forming the non-representable mean x-bar = S/n), so the aggregation
    is order-free; the single final division is rounded to 6."""
    li = t(spark, sf_dir, "lineitem")

    def cents(c):
        return (dec(c) * 100).cast("long")

    stats = li.agg(
        F.count("*").alias("n"),
        F.sum(cents("l_quantity")).alias("s_q"),
        F.sum(cents("l_discount")).alias("s_d"),
        F.sum(cents("l_tax")).alias("s_t"),
    )
    spec = [("l_quantity", 3, "s_q"), ("l_discount", -2000, "s_d"), ("l_tax", 1500, "s_t")]
    entries = F.array(
        *[
            F.struct(
                F.lit(name).alias("feature"),
                F.lit(w).alias("w"),
                F.abs(F.col("n") * cents(name) - F.col(s_col)).alias("adev"),
            )
            for (name, w, s_col) in spec
        ]
    )
    dev = (
        li.crossJoin(F.broadcast(stats))
        .select("n", F.explode(entries).alias("e"))
        .select("n", "e.feature", "e.w", "e.adev")
    )
    return (
        dev.groupBy("feature", "w", "n")
        .agg(F.sum("adev").alias("t_abs"))
        .select(
            "feature",
            F.col("w").alias("weight"),
            F.round(
                F.abs(F.col("w")).cast("double")
                * F.col("t_abs").cast("double")
                / (F.lit(100.0) * F.col("n") * F.col("n")),
                6,
            ).alias("mean_abs_contrib"),
        )
    )


def _knn_ivf_oracle() -> str:
    """DuckDB replay of the IVF-routed kNN classifier: the shared
    unrolled Lloyd CTEs (adaptive k, identical to the ANN index oracle)
    produce cells + centroid rationals; each PROBE ranks cells with the
    same single-division float64 comparator as rank_cells_audited
    (partitioned per probe); candidates are the corpus members of the
    probe's nprobe cells; the kNN vote tail is q_ml_knn_classifier's
    verbatim. Constants are imported from operators.similarity so the
    oracle and the Spark path can never desync — only module constants
    are touched here, which are defined before that module's own
    decoration-time oracle build, so the import is safe in either load
    order."""
    from ..operators.similarity import ivf_routing_oracle_parts

    parts = ivf_routing_oracle_parts(KNN_PROBE_MOD)
    parts += [
        "pairs AS (SELECT cand.pid, pe.label AS true_label, cand.cid, "
        "ce.label AS nlabel, list_dot_product(pe.v, ce.v) / (pe.nrm * ce.nrm) AS cos "
        "FROM cand JOIN e pe ON pe.vec_id = cand.pid "
        "JOIN e ce ON ce.vec_id = cand.cid)",
        "ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY pid "
        "ORDER BY cos DESC, cid) AS rk FROM pairs)",
        f"votes AS (SELECT pid, true_label, nlabel, COUNT(*) AS c "
        f"FROM ranked WHERE rk <= {KNN_K} GROUP BY 1, 2, 3)",
        "pred AS (SELECT pid, true_label, nlabel AS pred_label, "
        "ROW_NUMBER() OVER (PARTITION BY pid ORDER BY c DESC, nlabel) AS vr "
        "FROM votes)",
    ]
    return (
        "WITH " + ",\n".join(parts) + "\n"
        "SELECT true_label, COUNT(*) AS n_probes, "
        "COUNT(CASE WHEN pred_label = true_label THEN 1 END) AS n_correct, "
        "ROUND(CAST(COUNT(CASE WHEN pred_label = true_label THEN 1 END) AS DOUBLE)"
        " / COUNT(*), 6) AS accuracy "
        "FROM pred WHERE vr = 1 GROUP BY true_label"
    )


@query(
    "q_ml_knn_classifier_ivf",
    oracle=_knn_ivf_oracle(),
    tags=("ml", "knn", "classifier", "similarity", "ann", "ivf"),
)
def q_ml_knn_classifier_ivf(spark, sf_dir):
    """kNN classification routed through the audited IVF index — the
    SCALE-SAFE declared sibling of q_ml_knn_classifier (VERDICT r8 #5).
    The exact twin scans probes × corpus (quadratic by construction, its
    declared role is the recall-floor audit); here each held-out probe
    ranks the index's centroid rationals with the deterministic
    single-division comparator (rank_cells_audited's formula, expressed
    as a Spark integer fold so it runs distributed) and votes among its
    KNN_K nearest neighbors drawn ONLY from its N_PROBE nearest cells.
    With adaptive k the cells stay constant-sized, so per-probe work is
    constant — and the probe set itself is FIXED-SIZE (every
    KNN_PROBE_MOD-th vector below PROBE_ID_CAP, the production eval
    contract), making the WHOLE eval corpus-size-independent: the r9
    sf1 probe runs it at ~1× while the exact twin pays 13× — the 100 TB
    path. At driver/test SFs the cap is above every vec_id, so the
    held-out set equals the exact twin's. Accuracy floor vs the exact
    twin is pinned in tests/test_similarity_ops.py.

    Scale shape: ONE equi-join on cell between the corpus-side index
    and the broadcast (probe × nprobe-cell) frame — no corpus shuffle;
    cosine confirms with norms projected BEFORE the join (one fold per
    pair); the top-K window runs per probe after WindowGroupLimit
    pre-truncation; vote/accuracy rollups are probe-count-sized. The
    oracle replays index build + per-probe cell routing + vote end to
    end, so this is a FULL hash check of the approximate path itself,
    not merely of its summary."""
    from ..operators.similarity import ivf_probe_routing, pair_cosine_arrow

    probes, corpus, pcells = ivf_probe_routing(spark, sf_dir, KNN_PROBE_MOD)
    probes = probes.withColumnRenamed("plabel", "true_label")
    probe_side = pcells.join(probes, "pid")
    joined = corpus.join(F.broadcast(probe_side), "cell").select(
        "pid", "true_label", "cid", "nlabel", "pe", "ce", "pn", "cn"
    )
    # Arrow-batched prenorm cosine (bit-identical to the HOF fold — see
    # pair_cosine_arrow); only the pair metadata + cos leave the kernel
    pairs = pair_cosine_arrow(joined, ["pid", "true_label", "cid", "nlabel"])
    topk = pairs.withColumn(
        "rk",
        F.row_number().over(W.partitionBy("pid").orderBy(F.col("cos").desc(), "cid")),
    ).filter(F.col("rk") <= KNN_K)
    votes = topk.groupBy("pid", "true_label", "nlabel").agg(F.count("*").alias("c"))
    pred = votes.withColumn(
        "vr",
        F.row_number().over(W.partitionBy("pid").orderBy(F.col("c").desc(), "nlabel")),
    ).filter(F.col("vr") == 1)
    return pred.groupBy("true_label").agg(
        F.count("*").alias("n_probes"),
        F.count(F.when(F.col("nlabel") == F.col("true_label"), 1)).alias("n_correct"),
        F.round(
            F.count(F.when(F.col("nlabel") == F.col("true_label"), 1)) / F.count("*"),
            6,
        ).alias("accuracy"),
    )
