"""Data-quality gates: reject split (P3) and the existence gate (P5).

Reference: negative-volume rows are preserved in a reject/audit table with
``REJECT_REASON='NEGATIVE_VOLUME'`` (``4. merge_core.sql:24-45``); the
post-load row-count gate (``2. check_loaded.sql``) is advisory in the
reference (the operator doesn't fail on FALSE) — here it is a real
assertion, as SURVEY §2.2 P5 prescribes. Rows whose symbol is NULL or
empty are rejected too (``NULL_SYMBOL``): a NULL business key never
matches an equi-join, so it would reach silver and append a new
``dim_security`` row on every re-run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NEGATIVE_VOLUME = "NEGATIVE_VOLUME"
NULL_SYMBOL = "NULL_SYMBOL"


def eod_reject_reason() -> Column:
    """Why an EOD row is rejected, or NULL for a valid row: a NULL or
    empty (normalized) symbol, else a negative volume. A NULL volume is
    valid, as under the reference's ``VOLUME < 0`` predicate."""
    return F.when(F.coalesce(F.col("symbol"), F.lit("")) == "", F.lit(NULL_SYMBOL)).when(
        F.col("volume") < 0, F.lit(NEGATIVE_VOLUME)
    )


def split_by_reason(df: DataFrame, reason: Column) -> tuple[DataFrame, DataFrame]:
    """Split into (valid, rejects) by a reject-reason expression that is
    NULL for valid rows; rejects carry it as ``reject_reason``. One source
    scan feeds both sides."""
    valid = df.filter(reason.isNull())
    rejects = df.filter(reason.isNotNull()).withColumn("reject_reason", reason)
    return valid, rejects


class EmptyLoadError(AssertionError):
    pass


def existence_gate(df: DataFrame, what: str = "load") -> None:
    """P5 as a real assertion: fail the run if the frame is empty.
    ``isEmpty`` is one limit-1 job — never a full count, and no
    aggregate shuffle stage."""
    if df.isEmpty():
        raise EmptyLoadError(f"existence gate failed: {what} produced 0 rows")


#: auto mode flips from exact count_distinct to the HLL sketch once the
#: profile asks for more than this many distinct columns. Each exact
#: multi-distinct agg adds one Expand replica of every scanned row
#: (n distinct aggs → (n+1)× rows through the shuffle), so the crossover
#: is early by design — 2 keeps narrow ad-hoc gates exact while any real
#: profile takes the sketch path.
DQ_EXACT_MAX_COLS = 2


def dq_profile(
    df: DataFrame,
    columns: list[str],
    distinct_mode: str = "auto",
    hll_p: int = 8,
) -> DataFrame:
    """Declarative data-quality profile: for every requested column, null
    count, distinct count (exact or sketched — see below), and min/max
    (as strings, type-agnostic). The generalization of the reference's
    ad-hoc count gates (reference runs one statement per metric). Output
    is long-form (column, metric, value) so downstream gates can assert
    on rows.

    ``distinct_mode``:

    * ``"exact"`` — ``count_distinct`` per column in one aggregate.
      Catalyst's multi-distinct rewrite Expands the scan (n distinct
      aggs → (n+1)× rows into the shuffle) and shuffles every distinct
      value; fine for narrow profiles, the dominant cost for wide ones
      (the one >2× mover in the round-3 bench audit).
    * ``"approx"`` — the portable HLL sketch (``llmdata/sketch.py``) per
      column, metric name ``distinct_est``. Two Expand-free passes: a
      plain agg for nulls/min/max, and one explode(#cols)→register agg
      whose map-side combine collapses to ≤ #cols·2^p rows per partition
      — at 100 TB the distinct shuffle carries kilobytes instead of every
      distinct value. Bit-reproducible cross-engine (md5-derived hash,
      integer registers, floored estimate), so the DuckDB oracle still
      value-matches — approximate ≠ unverifiable.
    * ``"auto"`` (default) — exact for ≤ ``DQ_EXACT_MAX_COLS`` columns,
      approx above.
    """
    if distinct_mode == "auto":
        distinct_mode = "exact" if len(columns) <= DQ_EXACT_MAX_COLS else "approx"
    if distinct_mode not in ("exact", "approx"):
        raise ValueError(f"distinct_mode must be exact|approx|auto, got {distinct_mode!r}")

    aggs = [F.count("*").alias("__n_rows")]
    for c in columns:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
        if distinct_mode == "exact":
            aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
    wide = df.agg(*aggs)

    base_metrics = ("nulls", "distinct", "min", "max") if distinct_mode == "exact" else (
        "nulls", "min", "max"
    )
    metrics = []
    for c in columns:
        for m in base_metrics:
            metrics.append(
                F.struct(
                    F.lit(c).alias("column"),
                    F.lit(m).alias("metric"),
                    F.col(f"{c}__{m}").cast("string").alias("value"),
                )
            )
    metrics.append(
        F.struct(
            F.lit("*").alias("column"),
            F.lit("n_rows").alias("metric"),
            F.col("__n_rows").cast("string").alias("value"),
        )
    )
    out = wide.select(F.explode(F.array(*metrics)).alias("s")).select(
        "s.column", "s.metric", "s.value"
    )
    if distinct_mode == "approx":
        out = out.unionByName(_hll_distinct_by_column(df, columns, p=hll_p))
    return out


def _hll_distinct_by_column(df: DataFrame, columns: list[str], p: int = 8) -> DataFrame:
    """Per-column portable-HLL distinct estimates in ONE pass, long-form
    ``(column, 'distinct_est', value)``. Same integer pipeline as
    ``llmdata.sketch.hll_estimate`` (md5-derived 60-bit hash, bucket =
    low ``p`` bits, register = max leading-zero rank, exact-integer
    Σ 2^-M), vectorized over columns by exploding one
    (column, bucket, rho) struct per non-null value. NULLs are skipped,
    matching ``count_distinct`` semantics. The estimate is floored to
    BIGINT before stringification so the only float step (one IEEE double
    division) can never produce engine-dependent decimal text.
    """
    from securities_pricing_data_pipeline_spark.llmdata.dedup import portable_hash60

    m = 1 << p
    wbits = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)

    # Explode the raw (column, value) pairs FIRST, hash after: computing
    # the md5 hash inside per-column struct generators defeats common-
    # subexpression elimination (the hash feeds both bucket and rho, so it
    # is evaluated per field — measured 2.3× slower end-to-end).
    ex = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"), F.col(c).cast("string").alias("v")
                        )
                        for c in columns
                    ]
                )
            ).alias("s")
        )
        .select("s.column", "s.v")
        .where(F.col("v").isNotNull())
    )
    h = portable_hash60(F.col("v"))
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    regs = (
        ex.select("column", (h % F.lit(m)).alias("bucket"), rho.alias("rho"))
        .groupBy("column", "bucket")
        .agg(F.max("rho").alias("M"))
    )
    # same shift-count clamp as sketch.hll_estimate (see comment there)
    agg = regs.groupBy("column").agg(
        F.count("*").alias("n_seen"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), greatest({wbits} - M, 0))")).alias(
            "s_seen"
        ),
    )
    s_scaled = F.col("s_seen") + (F.lit(m) - F.col("n_seen")) * F.lit(1 << wbits).cast(
        "long"
    )
    raw = F.lit(alpha * m * m * float(1 << wbits)) / s_scaled.cast("double")
    zeros = (F.lit(m) - F.col("n_seen")).cast("double")
    # Small-range correction (Flajolet's linear counting): raw HLL
    # overestimates tiny cardinalities badly (3 distinct → ~186 with
    # m=256), and a DQ profile's whole point is flagging low-cardinality
    # columns. round() of m·ln(m/V) keeps cross-engine reproducibility in
    # practice: a libm last-ulp difference flips the rounded integer only
    # if the true value sits within ~1 ulp of a half-integer (~2^-40).
    lc = F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / zeros))
    est = F.when((zeros > 0) & (raw < F.lit(2.5 * m)), lc).otherwise(F.floor(raw))
    return agg.select(
        "column",
        F.lit("distinct_est").alias("metric"),
        est.cast("long").cast("string").alias("value"),
    )


def dq_profile_hll_oracle_sql(table: str, columns: list[str], p: int = 8) -> str:
    """DuckDB twin of ``dq_profile(..., distinct_mode='approx')`` — the
    same two passes emitted as SQL text, so the sketched profile stays
    value-level-verifiable."""
    m = 1 << p
    wbits = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    scale = repr(alpha * m * m * float(1 << wbits))

    nd_rows = []
    for c in columns:
        nd_rows += [
            f"SELECT '{c}' AS \"column\", 'nulls' AS metric, "
            f"CAST(COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS VARCHAR) AS value "
            f"FROM {table}",
            f"SELECT '{c}', 'min', MIN(CAST({c} AS VARCHAR)) FROM {table}",
            f"SELECT '{c}', 'max', MAX(CAST({c} AS VARCHAR)) FROM {table}",
        ]
    nd_rows.append(f"SELECT '*', 'n_rows', CAST(COUNT(*) AS VARCHAR) FROM {table}")

    hll_rows = []
    for c in columns:
        hll_rows.append(f"""
SELECT '{c}' AS "column", 'distinct_est' AS metric,
       CAST(CAST(CASE
         WHEN ({m} - n_seen) > 0
          AND ({scale} / CAST(s_seen + ({m} - n_seen) * (CAST(1 AS BIGINT) << {wbits})
                             AS DOUBLE)) < {2.5 * m}
         THEN round({float(m)!r} * ln({float(m)!r} / CAST({m} - n_seen AS DOUBLE)))
         ELSE FLOOR({scale} / CAST(
           s_seen + ({m} - n_seen) * (CAST(1 AS BIGINT) << {wbits}) AS DOUBLE))
       END AS BIGINT) AS VARCHAR) AS value
FROM (
  SELECT COUNT(*) AS n_seen,
         CAST(SUM(CAST(1 AS BIGINT) << greatest({wbits} - M, 0)) AS BIGINT) AS s_seen
  FROM (
    SELECT hv % {m} AS bucket,
           MAX(CASE WHEN (hv >> {p}) = 0 THEN {wbits + 1}
                    ELSE {wbits + 1} - length(bin(hv >> {p})) END) AS M
    FROM (
      SELECT CAST(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM {table} WHERE {c} IS NOT NULL
    ) GROUP BY 1
  )
)""")
    return "\nUNION ALL ".join(nd_rows + hll_rows)


def observe_write_metrics(df: DataFrame, name: str = "write_metrics"):
    """Attach free write-path metrics via the Observation API: row count,
    null-volume count, and negative-close count are computed BY the write
    action itself (an accumulator piggybacking on whatever job consumes
    ``df``) — zero extra scans, unlike the reference's count-statement-
    per-metric pattern (`dags/sql/8. new_row_count.sql`) and unlike
    ``dq_profile`` which is its own aggregate job. Read ``obs.get`` only
    AFTER an action has run over the returned frame.

    Returns (observed_df, observation).
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("volume").isNull().cast("long")).alias("n_null_volume"),
        F.sum((F.col("close") < 0).cast("long")).alias("n_neg_close"),
    )
    return observed, obs


def dq_expectations(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Declarative expectation suite: ``rules`` maps rule name → boolean
    Column that must hold for every row. One aggregate pass computes all
    rules simultaneously (conditional sums, no per-rule scan — the
    generalization of the reference's one-COUNT-per-metric checks,
    `dags/sql/2. check_loaded.sql` / `8. new_row_count.sql`), then
    unpivots to one row per rule: (rule, n_rows, n_violations, pass_rate).

    NULL predicate results count as violations (a rule that can't be
    evaluated didn't pass) — the contract that makes `x <= y` rules catch
    null keys too. At 100 TB this is one map-side-combining scan whose
    output is rules-count rows; pass_rate is a single int÷int division,
    engine-stable.
    """
    names = list(rules)
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum((~F.coalesce(cond, F.lit(False))).cast("long")).alias(f"v_{i}")
        for i, cond in enumerate(rules.values())
    ]
    one = df.agg(*aggs)
    stack = ", ".join(f"'{n}', v_{i}" for i, n in enumerate(names))
    return one.select(
        F.expr(f"stack({len(names)}, {stack}) AS (rule, n_violations)"),
        "n_rows",
    ).select(
        "rule",
        "n_rows",
        "n_violations",
        (
            (F.col("n_rows") - F.col("n_violations")).cast("double")
            / F.col("n_rows")
        ).alias("pass_rate"),
    )


def k_anonymity_violations(df, quasi_cols: list, k: int = 5):
    """Data-governance audit (Sweeney 2002 k-anonymity): every
    quasi-identifier combination observed in fewer than ``k`` rows — the
    groups a release would have to suppress or generalize further.
    Output: the quasi columns plus ``k_count``. One hash aggregate on
    the quasi key (map-side partials absorb the Zipf-hot combinations);
    the violating-group list is the actionable artifact a privacy
    reviewer reads, so it is emitted directly rather than as a
    summary scalar."""
    from pyspark.sql import functions as F

    return (
        df.groupBy(*quasi_cols)
        .agg(F.count("*").alias("k_count"))
        .filter(F.col("k_count") < k)
        .orderBy(*quasi_cols)
    )


def l_diversity_violations(df, quasi_cols: list, sensitive_col: str, l: int = 3):
    """Data-governance audit (Machanavajjhala 2007 ℓ-diversity): k-anonymity's
    required companion — a group can be k-anonymous yet leak the sensitive
    attribute outright when every member shares one value. Emits every
    quasi-identifier group whose SENSITIVE attribute takes fewer than ``l``
    distinct values, with the group size and its diversity, so the reviewer
    sees both audits over the same grouping. One hash aggregate on the quasi
    key (count + count_distinct partials combine map-side); Zipf-hot
    combinations land in AQE-splittable aggregates, never a window."""
    from pyspark.sql import functions as F

    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count("*").alias("k_count"),
            F.count_distinct(F.col(sensitive_col)).alias("l_distinct"),
        )
        .filter(F.col("l_distinct") < l)
        .orderBy(*quasi_cols)
    )


def t_closeness_violations(
    df: DataFrame,
    quasi_cols: list,
    sensitive_col: str,
    t: float = 0.2,
):
    """Data-governance audit (Li, Li & Venkatasubramanian 2007
    t-closeness): the third rung of the privacy ladder — a group can be
    k-anonymous AND ℓ-diverse yet still leak when its sensitive-attribute
    DISTRIBUTION differs sharply from the table's (e.g. a group holding
    only the two highest salary bands). Emits every quasi-identifier
    group whose ordered-EMD between the group's sensitive distribution
    and the global one exceeds ``t``.

    For an ORDERED sensitive attribute the paper's EMD closed form is
    (1/(m−1))·Σ_{i<m} |Σ_{j≤i}(p_j − q_j)| over the m globally observed
    values. Exactness: the inner cumulative difference is
    (cum_c·N − cum_g·n_g)/(n_g·N) with integer numerators, so the audit
    sums |cum_c·N − cum_g·n_g| in DECIMAL(38,0) (exact far past int64 at
    warehouse row counts) and performs ONE double division per group at
    the end — the emitted emd is bit-stable across engines.

    Plan shape: one hash aggregate collapses the scan to (group, value)
    cells (localCheckpoint'd — cell-cardinality-sized); the dense
    group×value grid, global marginals, and 1-row total are all derived
    from that frame and broadcast; the cumulative window partitions by
    group over m rows — strictly post-reduction, never over the scan."""
    cells = (
        df.groupBy(*quasi_cols, sensitive_col)
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    vals = cells.select(sensitive_col).distinct()
    glob = cells.groupBy(sensitive_col).agg(F.sum("c").alias("gc"))
    groups = cells.groupBy(*quasi_cols).agg(F.sum("c").alias("n_g"))
    nm = vals.agg(F.count("*").alias("m"))
    ntot = glob.agg(F.sum("gc").alias("n_total"))
    grid = groups.crossJoin(F.broadcast(vals))
    full = (
        grid.join(F.broadcast(cells), [*quasi_cols, sensitive_col], "left")
        .na.fill({"c": 0})
        .join(F.broadcast(glob), sensitive_col)
        .crossJoin(F.broadcast(nm))
        .crossJoin(F.broadcast(ntot))
    )
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy(*quasi_cols)
        .orderBy(sensitive_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dec = "decimal(38,0)"
    cum = full.select(
        *quasi_cols,
        "n_g",
        "m",
        "n_total",
        F.row_number().over(Window.partitionBy(*quasi_cols).orderBy(sensitive_col)).alias("rn"),
        (
            F.sum("c").over(w_cum).cast(dec) * F.col("n_total").cast(dec)
            - F.sum("gc").over(w_cum).cast(dec) * F.col("n_g").cast(dec)
        ).alias("cum_diff_num"),
    )
    per_group = (
        cum.filter(F.col("rn") < F.col("m"))  # the m-th cumulative diff is 0
        .groupBy(*quasi_cols, "n_g", "m", "n_total")
        .agg(F.sum(F.abs(F.col("cum_diff_num"))).alias("num"))
    )
    emd = F.col("num").cast("double") / (
        (F.col("m") - 1).cast(dec) * F.col("n_g").cast(dec) * F.col("n_total").cast(dec)
    ).cast("double")
    return (
        per_group.select(
            *quasi_cols, F.col("n_g").alias("k_count"), emd.alias("emd")
        )
        .filter(F.col("emd") > t)
        .orderBy(*quasi_cols)
    )


def t_closeness_violations_categorical(
    df: DataFrame,
    quasi_cols: list,
    sensitive_col: str,
    t: float = 0.2,
):
    """Categorical (unordered) t-closeness — the companion of
    :func:`t_closeness_violations`: with a 0/1 ground distance the
    paper's EMD reduces to total-variation distance
    ½·Σ_j |p_j − q_j|, the right metric when the sensitive attribute has
    no order (diagnosis codes, market segments). Emits every
    quasi-identifier group whose TVD against the global sensitive
    distribution exceeds ``t``.

    Exactness: per cell |c_j·N − g_j·n_g| is an exact DECIMAL(38,0)
    integer; the group sum divides ONCE by 2·n_g·N into a double.
    Plan: same single hash aggregate + broadcast grid as the ordered
    audit, but with NO window at all — TVD needs no cumulative pass."""
    cells = (
        df.groupBy(*quasi_cols, sensitive_col)
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    vals = cells.select(sensitive_col).distinct()
    gmarg = cells.groupBy(sensitive_col).agg(F.sum("c").alias("gc"))
    groups = cells.groupBy(*quasi_cols).agg(F.sum("c").alias("n_g"))
    ntot = gmarg.agg(F.sum("gc").alias("n_total"))
    grid = groups.crossJoin(F.broadcast(vals))
    dec = "decimal(38,0)"
    full = (
        grid.join(F.broadcast(cells), [*quasi_cols, sensitive_col], "left")
        .na.fill({"c": 0})
        .join(F.broadcast(gmarg), sensitive_col)
        .crossJoin(F.broadcast(ntot))
    )
    per_group = full.groupBy(*quasi_cols, "n_g", "n_total").agg(
        F.sum(
            F.abs(
                F.col("c").cast(dec) * F.col("n_total").cast(dec)
                - F.col("gc").cast(dec) * F.col("n_g").cast(dec)
            )
        ).alias("num")
    )
    tvd = F.col("num").cast("double") / (
        F.lit(2).cast(dec) * F.col("n_g").cast(dec) * F.col("n_total").cast(dec)
    ).cast("double")
    return (
        per_group.select(*quasi_cols, F.col("n_g").alias("k_count"), tvd.alias("tvd"))
        .filter(F.col("tvd") > t)
        .orderBy(*quasi_cols)
    )
