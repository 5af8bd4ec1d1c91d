"""Feature conditioning for training pipelines: per-stratum percentile
filtering (quality cuts) and per-group standardization (z-scores).

Beyond-reference surface: after scoring (operators/text.py) and before
sampling (operators/sampling.py), a pre-train pipeline CONDITIONS its
features — "keep the top 40 % of each language by quality" and
"standardize this signal within its group" are the two canonical forms.

Scale notes:
* ``percentile_filter`` ranks within each stratum — one shuffle keyed on
  the stratum; a single giant stratum serializes its own window (same
  caveat as token_budget_filter; pre-aggregate or sample if one stratum
  is >~10⁸ rows).
* ``zscore_standardize`` computes per-group moments with a map-side-
  combinable aggregation over EXACT integer cents (no float summation
  order anywhere), broadcasts the tiny moments table back, and derives
  z row-locally — two scans, zero wide shuffles of the fact table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def percentile_filter(
    df: DataFrame,
    value_col: Column | str,
    stratum_col: str,
    min_pct: float,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Keep rows at or above the ``min_pct`` percent-rank of ``value_col``
    WITHIN their stratum — the per-language / per-source quality cut.
    percent_rank is 0 for the stratum's minimum and 1 for its maximum;
    ``min_pct=0.6`` keeps the top 40 %. Ties order by ``tiebreak_col``
    (mandatory for cross-engine determinism when values can repeat).
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    order = [v.asc()] + ([F.col(tiebreak_col).asc()] if tiebreak_col else [])
    w = Window.partitionBy(stratum_col).orderBy(*order)
    return (
        df.withColumn("__pr", F.percent_rank().over(w))
        .filter(F.col("__pr") >= min_pct)
        .drop("__pr")
    )


def zscore_standardize(
    df: DataFrame,
    value_col: str,
    stratum_col: str,
    cents: int = 100,
) -> DataFrame:
    """Per-group z-score of ``value_col``: adds ``z`` = (x − mean)/sd
    (sample sd, ddof=1) computed from EXACT integer moments — the value is
    fixed-pointed to ``cents`` units, and sum / sum-of-squares are bigint
    aggregations, so the moments are identical across engines and
    partitionings (no float accumulation order anywhere). The final
    mean/sd/z arithmetic is a fixed per-row IEEE expression tree.

    Groups with fewer than 2 rows or zero variance get z = NULL. The
    moments table is #groups rows — broadcast back to the fact side, so
    the fact table is never shuffled.
    """
    c = F.floor(F.col(value_col) * cents).cast("long")
    with_c = df.withColumn("__c", c)
    moments = with_c.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__c").alias("__s"),
        F.sum(F.col("__c") * F.col("__c")).alias("__s2"),
    )
    n = F.col("__n").cast("double")
    mean = F.col("__s").cast("double") / n
    var = (F.col("__s2").cast("double") - F.col("__s").cast("double") * F.col("__s").cast("double") / n) / (n - 1.0)
    enriched = with_c.join(F.broadcast(moments), stratum_col)
    z = F.when(
        (F.col("__n") >= 2) & (var > 0.0),
        (F.col("__c").cast("double") - mean) / F.sqrt(var),
    )
    return enriched.withColumn("z", z).drop("__c", "__n", "__s", "__s2")


def robust_zscore(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    id_col: str = "event_id",
    threshold_micro: int = 3_500_000,
) -> DataFrame:
    """Median/MAD outlier detection per group — the robust twin of
    :func:`group_zscore`: a handful of extreme rows cannot drag the
    center/scale the way they drag mean/stddev, which is exactly what a
    quality gate over heavy-tailed telemetry needs.

    Works in integer cents (floor(value·100)); median and MAD are exact
    percentile(0.5) values (Spark's ``percentile`` ≡ DuckDB's
    ``median``: average the two middle values — a one-IEEE-op parity).
    Output per row: the modified z-score in micro-units,

        mz_micro = floor(1e6 · 0.6745 · (cents − median) / MAD)

    (0.6745 ≈ Φ⁻¹(0.75) makes MAD comparable to σ), and ``outlier`` =
    |mz_micro| > threshold_micro (default 3.5 — the standard
    Iglewicz–Hoaglin cut). MAD = 0 (over half the group identical) marks
    nothing (null mz, outlier=false) rather than dividing by zero.

    Scale: two shuffles on the group key (exact percentiles need the
    group's values together; groups are few) + a broadcast join back to
    the rows — the row table is never re-shuffled. For extreme
    cardinality swap the exact percentile for approx_percentile and keep
    the rest.
    """
    cents = F.floor(F.col(value_col) * 100).cast("long")
    rows = df.select(F.col(id_col), F.col(group_col), cents.alias("cents"))
    med = rows.groupBy(group_col).agg(
        F.percentile(F.col("cents"), F.lit(0.5)).alias("med")
    )
    dev = rows.join(F.broadcast(med), group_col).withColumn(
        "adev", F.abs(F.col("cents").cast("double") - F.col("med"))
    )
    mad = dev.groupBy(group_col).agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad")
    )
    mz = F.when(
        F.col("mad") > 0.0,
        F.floor(
            1000000.0
            * 0.6745
            * (F.col("cents").cast("double") - F.col("med"))
            / F.col("mad")
        ).cast("long"),
    )
    return (
        dev.join(F.broadcast(mad), group_col)
        .select(
            id_col,
            group_col,
            "cents",
            mz.alias("mz_micro"),
            F.coalesce(
                F.abs(mz) > F.lit(threshold_micro), F.lit(False)
            ).alias("outlier"),
        )
    )


def pipeline_funnel(
    df: DataFrame, stages: list[tuple[str, Column | str]]
) -> DataFrame:
    """Stage-by-stage survivor accounting for a cleaning pipeline — the
    funnel report every corpus release publishes ("N in, X after quality,
    Y after blocklist, Z after dedup"). ``stages`` is an ORDERED list of
    (name, keep-predicate); stage i's survivors are the rows passing ALL
    predicates 1..i, so the numbers reproduce running the filters
    sequentially without materializing any intermediate corpus.

    Output: (stage_no, stage, n_out, n_dropped) — one row per stage plus
    the leading 'input' row; n_dropped is vs the previous stage.

    Scale: ONE map-combinable aggregate over one scan — each stage is a
    conditional sum, so the cost is independent of stage count and no
    intermediate dataset is written. Predicates that need global context
    (a dedup keep flag, a percentile cut) are computed by the caller as
    boolean columns first; this operator only accounts.
    """
    aggs = [F.count(F.lit(1)).alias("n_0")]
    acc = F.lit(True)
    for i, (_, c) in enumerate(stages, 1):
        col = F.col(c) if isinstance(c, str) else c
        acc = acc & col
        aggs.append(
            # coalesce: sum over ZERO rows is NULL — an empty corpus must
            # report 0-row stages, matching the oracle's COUNT FILTER
            F.coalesce(F.sum(F.when(acc, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"n_{i}")
        )
    one = df.agg(*aggs)
    names = ["input"] + [n for n, _ in stages]
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("stage_no"),
                F.lit(names[i]).alias("stage"),
                F.col(f"n_{i}").alias("n_out"),
                (
                    (F.col(f"n_{i - 1}") - F.col(f"n_{i}"))
                    if i > 0
                    else F.lit(0).cast("long")
                ).alias("n_dropped"),
            )
            for i in range(len(names))
        ]
    )
    return one.select(F.explode(rows).alias("r")).select(
        "r.stage_no", "r.stage", "r.n_out", "r.n_dropped"
    )


def k_anonymity_audit(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """Privacy release gate: group rows by the quasi-identifier
    combination and flag equivalence classes smaller than ``k`` — the
    k-anonymity criterion (a class of size < k re-identifies its members
    by the joinable quasi columns alone). The structured complement of
    the regex PII scan: that finds identifiers IN the text, this finds
    identifying METADATA combinations.

    Output: one row per equivalence class (quasi_cols..., class_size,
    violates) — violating classes are exactly what must be suppressed or
    generalized before release.

    Scale: one map-combinable groupBy on the quasi columns; output
    cardinality is the distinct-combination count, not the row count.
    """
    return (
        df.groupBy(*[F.col(c) for c in quasi_cols])
        .agg(F.count(F.lit(1)).alias("class_size"))
        .withColumn("violates", F.col("class_size") < k)
    )

def quantile_bin(
    df: DataFrame,
    value_col: str,
    n_bins: int = 4,
    by: str | None = None,
) -> DataFrame:
    """Equal-frequency discretization: assign each row its ``n_bins``-ile
    of ``value_col`` (optionally within ``by`` groups) — the feature-
    binning step tabular/curriculum pipelines run before mixing (bin by
    difficulty, length, quality). Bin b covers ranks (b−1)·n/k < r ≤ b·n/k
    with rank ties broken by the value itself then arbitrary-free:
    ranks come from the exact (value, count) histogram, so equal values
    ALWAYS share a bin boundary decision deterministically — the bin of a
    row depends only on (group, value), never on row order.

    Output: input columns + (bin,) with bin in 1..n_bins.

    Scale: the same histogram-rank decomposition as
    ``perplexity_buckets`` — a map-combinable (group, value) count, a
    distinct-value cumulative window, and a broadcast-friendly join back;
    no whole-group sort. All rows with one value get the bin of that
    value's LAST member (ceil of its max rank), keeping equal values in
    one bin.
    """
    gcols = [by] if by else []
    hist = df.groupBy(*gcols, value_col).agg(F.count(F.lit(1)).alias("_cnt"))
    w = (
        Window.partitionBy(*gcols)
        .orderBy(F.asc(value_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wg = Window.partitionBy(*gcols)
    keys = gcols + [value_col]
    binned = hist.select(
        *[F.col(c).alias(f"_k_{c}") for c in keys],
        F.ceil(
            F.sum("_cnt").over(w).cast("double")
            * n_bins
            / F.sum("_cnt").over(wg).cast("double")
        )
        .cast("long")
        .alias("bin"),
    )
    # null-SAFE keys: a NULL value (or group) is a legitimate histogram
    # entry — an equi join would silently drop those rows from the output
    cond = None
    for c in keys:
        e = F.col(c).eqNullSafe(F.col(f"_k_{c}"))
        cond = e if cond is None else (cond & e)
    return df.join(binned, cond).drop(*[f"_k_{c}" for c in keys])


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
    k: int = 5,
) -> DataFrame:
    """Distinct-l-diversity release gate on top of k-anonymity: an
    equivalence class (one quasi-identifier combination) that is large
    enough (≥ k) can STILL leak its members' sensitive attribute if the
    class is homogeneous — l-diversity additionally requires ≥ ``l``
    distinct sensitive values per class. Flags both failure modes.

    Output: one row per class (quasi_cols..., class_size, n_sensitive,
    violates_k, violates_l).

    Scale: one groupBy on the quasi columns with a count-distinct on the
    sensitive column (partial-aggregated map-side); output cardinality is
    the class count, not the row count.
    """
    return (
        df.groupBy(*[F.col(c) for c in quasi_cols])
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct(sensitive_col).alias("n_sensitive"),
        )
        .withColumn("violates_k", F.col("class_size") < k)
        .withColumn("violates_l", F.col("n_sensitive") < l)
    )


def calibration_bins(
    df: DataFrame,
    conf_micro_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram / expected-calibration-error bins for a binary
    classifier: confidence (micro units, 0..1e6) is cut into ``n_bins``
    equal-width bins; each bin reports its size, total confidence, and
    total positives. ECE = Σ |sum_pos − sum_conf_micro/1e6| / N falls out
    of the integer columns downstream — the per-bin gap between claimed
    confidence and realized accuracy is the quality-classifier health
    check run before trusting its scores for filtering.

    Output: (bin, n, sum_conf_micro, n_pos, gap_micro) — gap_micro =
    |n_pos·1e6 − sum_conf_micro| / n, an exact integer per bin.

    Scale: a single map-combinable groupBy on the bin id; n_bins rows out.
    """
    b = F.least(
        F.floor(F.col(conf_micro_col) * n_bins / 1000000).cast("long"),
        F.lit(n_bins - 1).cast("long"),
    )
    return (
        df.select(
            b.alias("bin"),
            F.col(conf_micro_col).alias("_c"),
            F.col(label_col).cast("long").alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_c").alias("sum_conf_micro"),
            F.sum("_y").alias("n_pos"),
        )
        .withColumn(
            "gap_micro",
            F.abs(F.col("n_pos") * 1000000 - F.col("sum_conf_micro"))
            / F.col("n"),
        )
        .withColumn("gap_micro", F.floor(F.col("gap_micro")).cast("long"))
    )


def pr_curve(
    df: DataFrame,
    score_micro_col: str,
    label_col: str,
) -> DataFrame:
    """Full precision/recall threshold sweep for a binary classifier:
    one output row per DISTINCT score value t with the confusion counts
    of the rule "predict positive iff score ≥ t" — the curve read before
    picking a quality-filter threshold (choose the highest-recall point
    that still meets the precision floor). Ratios are exact integer
    micro units.

    Output: (threshold_micro, n_pred_pos, tp, precision_micro,
    recall_micro) ordered by descending threshold downstream.

    Scale: the histogram-rank decomposition again — a map-combinable
    (score → count, positives) aggregate and ONE cumulative window over
    the distinct scores (not the rows), so a billion-row score column
    costs its distinct-value count in the window stage.
    """
    hist = df.groupBy(F.col(score_micro_col).alias("threshold_micro")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col(label_col).cast("long")).alias("_pos"),
    )
    w = (
        Window.orderBy(F.desc("threshold_micro"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wg = Window.partitionBy()
    return hist.select(
        "threshold_micro",
        F.sum("_n").over(w).cast("long").alias("n_pred_pos"),
        F.sum("_pos").over(w).cast("long").alias("tp"),
        F.sum("_pos").over(wg).cast("long").alias("_tot_pos"),
    ).select(
        "threshold_micro",
        "n_pred_pos",
        "tp",
        F.expr("(tp * 1000000) div n_pred_pos").cast("long").alias(
            "precision_micro"
        ),
        F.expr("(tp * 1000000) div _tot_pos").cast("long").alias(
            "recall_micro"
        ),
    )


def json_schema_profile(
    df: DataFrame,
    json_col: str = "props",
) -> DataFrame:
    """Schema inference over a semi-structured JSON column: one row per
    (top-level key, value type) with its occurrence count and coverage —
    the profile run before promoting a JSON blob column to real typed
    columns (which keys exist, how consistently, and whether a key is
    type-stable or a mixed bag). Types are normalized to engine-neutral
    labels (int/double/string/bool/array/object/null).

    Output: (key, vtype, n, pct_micro) — pct is coverage of ALL rows, so
    a key absent from half the rows shows Σ over its types ≈ 500000.

    Scale: explode(json_object_keys) is map-side; the variant parse +
    type introspection stays JVM-side (no Python); one map-combinable
    groupBy on (key, type) whose output is schema-sized, not row-sized;
    the row total rides in as a broadcast one-row aggregate.

    Keys are substituted into a '$.key' variant path, so top-level keys
    containing path metacharacters ('.', '[', quotes) are not supported.
    """
    # NOTE (r12, measured): parsing once below the explode and carrying
    # the variant through the Generate was TRIED and is ~15% slower
    # steady-state here — copying the parsed variant per (row, key)
    # output row costs more than re-running parse_json on these small
    # objects. Keeping the parse-per-key shape deliberately.
    keyed = df.select(
        F.col(json_col).alias("_j"),
        F.explode(F.json_object_keys(json_col)).alias("key"),
    )
    t = F.expr("schema_of_variant(variant_get(parse_json(_j), concat('$.', key)))")
    typed = keyed.select(
        "key",
        F.when(t == "BIGINT", "int")
        .when((t == "DOUBLE") | t.startswith("DECIMAL"), "double")
        .when(t == "STRING", "string")
        .when(t == "BOOLEAN", "bool")
        .when(t.startswith("ARRAY"), "array")
        .when(t.startswith("OBJECT"), "object")
        .when(t == "VOID", "null")
        .otherwise("other")
        .alias("vtype"),
    )
    total = df.agg(F.count(F.lit(1)).alias("_tot"))
    return (
        typed.groupBy("key", "vtype")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "key",
            "vtype",
            "n",
            F.expr("(n * 1000000) div _tot").cast("long").alias("pct_micro"),
        )
    )


def quality_drift_psi(
    ref: DataFrame,
    cur: DataFrame,
    score_col: str = "score",
    n_bins: int = 10,
    lo: int = 0,
    hi: int = 1000000,
) -> DataFrame:
    """Population-stability-index drift audit between a reference corpus
    slice and a current one — the monitoring gate that catches a quality
    (or classifier-score) distribution shifting between crawl batches
    before the shifted data trains a model. Scores are integers in
    [lo, hi) (micro-scaled upstream); both sides histogram into the same
    ``n_bins`` fixed-width bins and each bin contributes
    ``(p − q) · ln(p/q)`` with add-one smoothing on the counts.

    Integer convention (oracle-exact): per bin ONE rounded micro-nat log
    ratio ``lr = round(ln((ca+1)·(tb+nb) / ((cb+1)·(ta+nb))) · 1e6)`` and
    micro shares ``p = (ca+1)·1e6 div (ta+nb)``; the contribution
    ``(p − q) · lr`` is an exact int64 product (µ² units). Σ over bins =
    PSI in micro²-nats; the conventional alert floors are 0.1 (stable) /
    0.25 (shifted) → 1e11 / 2.5e11 in these units.

    Output: (bin, ref_n, cur_n, p_micro, q_micro, lr_micro, psi_contrib)
    — one row per bin (empty bins included via the smoothing).

    Scale: each side is ONE map-combinable histogram groupBy collapsing
    to ≤ n_bins rows; everything after runs on 2·n_bins rows. Totals
    fold out of the histograms — no second pass, nothing driver-side.
    """
    width = (hi - lo + n_bins - 1) // n_bins

    def hist(df: DataFrame, name: str) -> DataFrame:
        b = F.least(
            F.greatest(
                F.expr(f"(({score_col} - {lo}) div {width})").cast("long"),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        )
        # NULL scores are EXCLUDED, not binned: F.greatest skips nulls, so
        # without the filter a NULL score would silently land in bin 0 and
        # fabricate (or mask) drift there
        return (
            df.filter(F.col(score_col).isNotNull())
            .select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias(name))
        )

    ha, hb = hist(ref, "ref_n"), hist(cur, "cur_n")
    bins = ref.sparkSession.range(n_bins).select(F.col("id").alias("bin"))
    j = (
        bins.join(ha, "bin", "left")
        .join(hb, "bin", "left")
        .select(
            "bin",
            F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
            F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
        )
    )
    # totals from the (≤ n_bins row) histograms via one-row broadcast
    tot = j.agg(
        F.sum("ref_n").alias("ta"), F.sum("cur_n").alias("tb")
    )
    nb = F.lit(n_bins).cast("long")
    withp = j.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ref_n",
        "cur_n",
        F.expr(f"((ref_n + 1) * 1000000) div (ta + {n_bins})").alias("p_micro"),
        F.expr(f"((cur_n + 1) * 1000000) div (tb + {n_bins})").alias("q_micro"),
        F.round(
            F.log(
                ((F.col("ref_n") + 1) * (F.col("tb") + nb)).cast("double")
                / ((F.col("cur_n") + 1) * (F.col("ta") + nb)).cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("lr_micro"),
    )
    return withp.withColumn(
        "psi_contrib", (F.col("p_micro") - F.col("q_micro")) * F.col("lr_micro")
    )


def winsorize(
    df: DataFrame,
    value_col: str = "value",
    group_col: str | None = None,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
) -> DataFrame:
    """Clip ``value_col`` to its exact [p_lo, p_hi] percentile band —
    the standard heavy-tail taming step before feature scaling (Dixon,
    "Simplified estimation from censored normal samples"; universally
    called winsorizing in feature pipelines).

    Adds ``{value}_wins`` (the clipped value), ``clipped_lo`` /
    ``clipped_hi`` flags, and the band columns ``lo`` / ``hi`` so a
    downstream auditor can see the cut applied to each row. Percentiles
    are Spark's exact ``percentile`` (linear interpolation — DuckDB
    ``quantile_cont`` parity; dyadic p values are IEEE-exact across
    engines, see q49).

    Scale: one aggregate produces the (per-group) percentile pair —
    grouped, that's one shuffle on the group key over value pairs;
    ungrouped, a one-row global aggregate — then a BROADCAST join back
    and a map-only clip. The row table is never re-shuffled. For extreme
    group cardinality swap ``percentile`` for ``approx_percentile`` and
    keep everything else.
    """
    v = F.col(value_col)
    bands_agg = [
        F.percentile(v, F.lit(p_lo)).alias("lo"),
        F.percentile(v, F.lit(p_hi)).alias("hi"),
    ]
    if group_col is None:
        bands = df.agg(*bands_agg)
        joined = df.crossJoin(F.broadcast(bands))
    else:
        # null-SAFE band join: a NULL group key is a real group (its
        # band row exists from the groupBy) — a null-unsafe equi join
        # would leave those rows with NULL bands and flags
        bands = df.groupBy(group_col).agg(*bands_agg).withColumnRenamed(
            group_col, "__band_grp"
        )
        joined = df.join(
            F.broadcast(bands),
            F.col(group_col).eqNullSafe(F.col("__band_grp")),
            "left",
        ).drop("__band_grp")
    return joined.select(
        *df.columns,
        F.least(F.greatest(v, F.col("lo")), F.col("hi")).alias(
            f"{value_col}_wins"
        ),
        (v < F.col("lo")).alias("clipped_lo"),
        (v > F.col("hi")).alias("clipped_hi"),
        "lo",
        "hi",
    )
