"""The survey analysis pipeline as ONE lazy Spark plan.

Reference flow (survey_analysis.py:223-317, the `analyze_dataframe_wide`
row loop): per response, clean each answer, short-circuit filler to
(Neutral, No Feedback), classify once, then replicate the per-question
triplets into one output row per product. Here the row loop disappears:

    scan -> clean columns -> classify columns -> explode(products)
         -> dynamic select list [ResponseID, Product, triplets...]

Plan-construction discipline:

* classify-before-explode (reference R2): each response is classified once
  and the triplets replicate per product. Catalyst will not reorder across
  a nondeterministic UDF kernel, so the pipeline emits this order itself.
* staged selects: clean_text (two regexp_replace passes) is aliased in its
  own projection and everything downstream references the ATTRIBUTE, not
  the expression. CollapseProject declines to inline non-cheap expressions
  referenced more than once, so the regex runs once per (row, question)
  instead of once per lexicon term -- this keeps both runtime and
  plan-compile time linear in |questions|.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.functions.classify import (
    keyword_category,
    lexicon_sentiment,
)
from automated_review_analysis_pipeline_spark.functions.text import (
    clean_text,
    is_filler,
    sanitize_base,
)
from automated_review_analysis_pipeline_spark.operators.reshape import explode_products
from automated_review_analysis_pipeline_spark.sources.survey import question_columns

# classifier(question_col, cleaned_answer_col) -> struct(sentiment, category);
# the question is a column so one projection can classify rows of every
# question at once (kernels that do not prompt with it ignore it)
Classifier = Callable[[Column, Column], Column]


def demo_classifier(question: Column, answer: Column) -> Column:
    """Deterministic demo kernel (C2 lexicon sentiment + C3 keyword
    category) -- pure column expressions, SQL-oracle-checkable. The
    question is ignored."""
    return F.struct(
        lexicon_sentiment(answer).alias("sentiment"),
        keyword_category(answer).alias("category"),
    )


def with_response_id(df: DataFrame, id_col: str | None = None) -> DataFrame:
    """ResponseID = str(source row position + 1) (survey_analysis.py:292).

    Callers with a stable key pass ``id_col`` and skip numbering entirely
    (the preferred path). Without one, this runs the distributed
    zipWithIndex pattern instead of a global single-partition window: one
    tiny job counts rows per partition (|partitions| rows to the driver),
    the cumulative offsets broadcast back, and each partition numbers its
    own rows locally -- scan order is preserved, nothing ever funnels
    through one task. Same convention as every other bounded driver
    collect in this repo: the collected set is |partitions|, not |rows|.
    """
    if id_col is not None:
        return df.withColumn("ResponseID", F.col(id_col).cast("string"))
    from pyspark.sql.functions import broadcast

    # localCheckpoint pins the partitioning: the per-partition counts and
    # the numbering join below are two separate jobs, and without the
    # checkpoint a non-deterministic upstream (round-robin repartition,
    # AQE re-coalescing) could assign rows to different partitions in
    # each, silently misnumbering. Eager materialization of the staged
    # frame makes both jobs read the same blocks.
    staged = df.withColumn("__pid", F.spark_partition_id()) \
               .withColumn("__mono", F.monotonically_increasing_id()) \
               .localCheckpoint(eager=True)
    counts = (staged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
              .orderBy("__pid").collect())
    offsets, acc = [], 0
    for r in counts:
        offsets.append((r["__pid"], acc))
        acc += r["__n"]
    spark = df.sparkSession
    if offsets:
        off_df = spark.createDataFrame(offsets, "__pid int, __off long")
    else:
        off_df = spark.createDataFrame([], "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy("__mono")
    return (
        staged.join(broadcast(off_df), "__pid")
        .withColumn(
            "ResponseID",
            (F.row_number().over(w) + F.col("__off")).cast("string"))
        .drop("__pid", "__mono", "__off")
    )


def _staged_clean(survey: DataFrame, id_col: str | None):
    """Stage 1 shared by the cached and uncached plans: ResponseID +
    products column + every question column cleaned once (null -> "nan"
    first: the reference str()s every cell, survey_analysis.py:283)."""
    questions = [q for q in question_columns(survey) if q != id_col]
    base_to_display = {sanitize_base(q): q for q in questions}
    bases = [sanitize_base(q) for q in questions]
    products_col = survey.columns[2]
    df = with_response_id(survey, id_col).select(
        "ResponseID",
        products_col,
        *[clean_text(F.coalesce(F.col(q), F.lit("nan"))).alias(f"{b}_Answer")
          for q, b in zip(questions, bases)],
    )
    return df, questions, bases, products_col, base_to_display


def _finalize_wide(df: DataFrame, bases: list[str],
                   products_col: str) -> DataFrame:
    """Stage 3 shared by both plans: explode AFTER classification
    (classify once per response, replicate per product), flatten
    triplets in question order."""
    df = explode_products(df, products_col=products_col, out_col="Product")
    ordered: list[Column] = [F.col("ResponseID"), F.col("Product")]
    for b in bases:
        ordered.extend([
            F.col(f"{b}_Answer"),
            F.col(f"__res_{b}.sentiment").alias(f"{b}_Sentiment"),
            F.col(f"__res_{b}.category").alias(f"{b}_Category"),
        ])
    return df.select(*ordered)


def analyze_wide(
    survey: DataFrame,
    classifier: Classifier = demo_classifier,
    id_col: str | None = None,
    max_chars: int = 600,
) -> tuple[DataFrame, dict[str, str]]:
    """Survey DataFrame -> (wide result, base->display-name map).

    Wide schema (FIXTURES.md C1): ResponseID, Product, then per question q
    the triplet {base}_Answer, {base}_Sentiment, {base}_Category in original
    question order. Row count = sum over responses of max(1, #products).

    ``max_chars`` caps ONLY the text handed to classifiers that declare
    ``truncate_input = True`` (the API kernel) -- reference P6 truncates
    just the API-bound string (survey_analysis.py:264-265,
    ``ans_for_api = ans[:max_chars]``) while the demo/VADER path scores
    the full cleaned answer (:263). The emitted _Answer column is always
    uncapped, and the cache key uses the full answer (:259).
    """
    df, questions, bases, products_col, base_to_display = \
        _staged_clean(survey, id_col)

    # Stage 2: classify from the cleaned ATTRIBUTE (not the regex expr).
    # Filler short-circuit (P3, survey_analysis.py:284-285) skips the
    # classifier -- with a UDF kernel this also skips the Python/API call.
    truncate = getattr(classifier, "truncate_input", False)
    res_cols = []
    for q, b in zip(questions, bases):
        ans = F.col(f"{b}_Answer")
        cls_input = F.substring(ans, 1, max_chars) if truncate else ans
        res = F.when(
            is_filler(ans),
            F.struct(F.lit("Neutral").alias("sentiment"),
                     F.lit("No Feedback").alias("category")),
        ).otherwise(classifier(F.lit(q), cls_input))
        res_cols.append(res.alias(f"__res_{b}"))
    df = df.select("*", *res_cols)

    return _finalize_wide(df, bases, products_col), base_to_display


def analyze_wide_cached(
    survey: DataFrame,
    classifier: Classifier,
    industry: str,
    cache_path: str,
    id_col: str | None = None,
    max_chars: int = 600,
    max_parallelism: int | None = None,
) -> tuple[DataFrame, dict[str, str]]:
    """analyze_wide with the reference's memo cache wired in (C7,
    survey_analysis.py:257-273): every distinct non-filler (industry,
    question-header, answer) key is classified ONCE through the parquet
    cache table -- anti-join selects the misses, the kernel runs only on
    those, results append atomically, and the (hit + new) table
    broadcast-joins back onto the wide frame per question. Filler rows
    never enter the cache (the reference short-circuits BEFORE
    get_sent_cat, :284-285), and the cache key carries the FULL cleaned
    answer while only API-bound text is truncated (:259, :264-265).

    This is the plan the CLI runs when a cache path is configured, in
    BOTH modes (the reference consults the cache before VADER too) -- a
    reference user's migrated .analysis_cache.json (import_json_cache)
    short-circuits every already-paid classification. ``max_parallelism``
    bounds API-mode concurrency: the miss set is repartitioned to that
    many partitions before the single classify stage."""
    from automated_review_analysis_pipeline_spark.operators.cache import (
        KEY_COLS,
        load_cache,
    )
    from automated_review_analysis_pipeline_spark.plan_cache import (
        plan_cache,
    )

    df, questions, bases, products_col, base_to_display = \
        _staged_clean(survey, id_col)
    # keys derive from the PRE-JOIN cleaned frame (df before the
    # result joins below): the eager cache-append executes the key
    # plan, and threading keys through the progressively-joined frame
    # would re-run every prior broadcast join inside it (O(Q^2))
    cleaned = df
    spark = survey.sparkSession
    truncate = getattr(classifier, "truncate_input", False)
    q_names = [str(q).strip() for q in questions]

    # degenerate survey (no question columns past the 3 fixed ones):
    # nothing to classify, so skip the cache pass entirely -- mirrors
    # plain analyze_wide, which loops zero times and finalizes
    if not q_names:
        return _finalize_wide(df, bases, products_col), base_to_display

    # ONE cache pass for all questions (vs one anti-join + append per
    # question): union the per-question distinct key sets, anti-join the
    # cache once, and classify the whole plan-cached miss set in ONE
    # kernel projection that reads the question from the row -- one
    # Python stage of max_parallelism tasks, not one UDF branch per
    # question (a when-chain over per-question UDFs would be worse
    # still: Spark evaluates every UDF referenced in a projection for
    # every row, multiplying API calls by |questions|).
    all_keys = None
    for qn, b in zip(q_names, bases):
        k = cleaned.select(
            F.lit(industry).alias("industry"),
            F.lit(qn).alias("question"),
            F.col(f"{b}_Answer").alias("answer"),
        ).where(~is_filler(F.col("answer")))
        all_keys = k if all_keys is None else all_keys.unionByName(k)
    # ONE distinct over the union (narrow selects feed a single shuffle),
    # cached: the key set is consumed by the anti-join AND the read-back
    # semi-join -- uncached it would recompute per consumer
    all_keys = plan_cache(all_keys.distinct())

    cache = load_cache(spark, cache_path)
    # repartition bounds the API concurrency: the classify stage below
    # runs exactly max_parallelism tasks
    misses = (
        all_keys.join(cache, KEY_COLS, "left_anti")
        .repartition(max_parallelism
                     or spark.sparkContext.defaultParallelism)
    )
    misses = plan_cache(misses)

    # an all-hit run (count() also materializes the cached miss set)
    # runs no kernel and appends no empty parquet part
    if misses.count():
        inp = F.substring(F.col("answer"), 1, max_chars) \
            if truncate else F.col("answer")
        computed = misses.select(
            *KEY_COLS, classifier(F.col("question"), inp).alias("__r")
        ).select(
            *KEY_COLS,
            F.col("__r.sentiment").alias("sentiment"),
            F.col("__r.category").alias("category"),
        )
        # atomic append of ALL misses (replaces the reference's
        # flush-every-200); re-runs then classify zero rows
        computed.write.mode("append").parquet(cache_path)
    results = plan_cache(
        load_cache(spark, cache_path).join(all_keys, KEY_COLS, "left_semi"))

    for qn, b in zip(q_names, bases):
        res_b = results.where(F.col("question") == qn).select(
            F.col("answer").alias(f"{b}_Answer"),
            F.col("sentiment").alias(f"__s_{b}"),
            F.col("category").alias(f"__c_{b}"),
        )
        df = df.join(F.broadcast(res_b), f"{b}_Answer", "left")
        # unmatched = filler (excluded from keys) -> the P3 defaults
        df = df.withColumn(f"__res_{b}", F.struct(
            F.coalesce(F.col(f"__s_{b}"), F.lit("Neutral"))
            .alias("sentiment"),
            F.coalesce(F.col(f"__c_{b}"), F.lit("No Feedback"))
            .alias("category"),
        )).drop(f"__s_{b}", f"__c_{b}")

    return _finalize_wide(df, bases, products_col), base_to_display
