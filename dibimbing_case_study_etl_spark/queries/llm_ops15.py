"""Round-6 additions V: privacy/governance audits, multiple-testing
control, resampled uncertainty, bounded graph reach, exponential
smoothing, and a partition-layout audit.

- ``v01``–``v03`` open the privacy family a training-data pipeline needs
  before shipping customer-derived tables: k-anonymity equivalence-class
  sizes, entropy l-diversity of a sensitive attribute, and per-QI-subset
  re-identification (uniqueness) risk via GROUPING SETS — the Sweeney /
  Machanavajjhala audits as set-at-a-time aggregations.
- ``x06`` adds Benjamini–Hochberg FDR control over a 125-cell Welch
  z-test screen — the multiple-testing step every metrics platform runs
  after x01/x02/x03; the normal tail is an explicit Abramowitz–Stegun
  erfc polynomial both engines evaluate on bit-identical doubles.
- ``x08`` is a seeded Poisson(1) bootstrap (200 replicates) for the
  urgent-vs-rest order-value gap — the distributed-resampling shape
  (explode replicates, one partial agg) that replaces driver-side
  resampling at scale.
- ``g03`` measures 3-hop supply-chain reach (supplier→part→supplier→
  part) with per-hop frontier DISTINCTs — the BSP-BFS shape, bounded
  depth, no recursion on the engine side.
- ``f05`` backtests EWMA (α=0.3) one-step-ahead forecasts against the
  naive lag forecast per nation — the smoothing recursion unrolled into
  a closed-form weighted sum over a calendar-bounded pair table, with
  the weights passed as Python-computed literals so neither engine's
  ``pow`` is trusted.
- ``u09`` audits a partition layout before a big write: per-day row and
  byte estimates for the events table, skew vs the median partition,
  and hot-partition flags — what decides repartition()/bucketing specs
  at 100 TB.
- ``t45`` measures training-batch padding waste as a function of
  length-bucket count (the bucketed-batching knob every dataloader
  exposes), with the global length rank computed by the distributed
  prefix sum — no single-partition window.
- ``v04`` releases a differentially-private histogram: md5-seeded
  Laplace(1/ε) noise, the inverse-CDF evaluated identically by both
  engines — the release path a privacy team actually ships.
- ``m11`` parses PNG IHDR headers JVM-side (substring/hex/conv on the
  binary column — no Python in the loop) and cross-checks the full
  corpus geometry histogram against the fixture formula.
- ``q82`` exercises the recursive-CTE surface (Spark 4's WITH
  RECURSIVE): transitive closure over a synthetic part containment
  hierarchy, per-depth path/node census — the BOM-explosion shape.

Reference parity: the reference repo (caesarmario/dibimbing-case-study-etl)
has none of these surfaces; beyond-reference LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dibimbing_case_study_etl_spark.catalog import register
from dibimbing_case_study_etl_spark.functions.windows import global_bounded as _gw
from dibimbing_case_study_etl_spark.functions.oracle_safe import (
    iround,
    sql_iround,
)
from dibimbing_case_study_etl_spark.queries import query

# --- shared: balance-decile quasi-identifier bucket ------------------------

_BAL_BUCKET_SQL = "CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)"


def _bal_bucket() -> F.Column:
    return F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("bigint")


# --- v01: k-anonymity equivalence-class audit -------------------------------

_V01_KS = (2, 5, 10, 25)

_V01_ORACLE = f"""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment, {_BAL_BUCKET_SQL} AS bal_bucket,
             COUNT(*) AS cnt
      FROM customer
      GROUP BY c_nationkey, c_mktsegment, {_BAL_BUCKET_SQL}
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cls),
    ks AS (SELECT UNNEST([{", ".join(str(k) for k in _V01_KS)}]) AS k)
    SELECT CAST(ks.k AS INT) AS k,
           CAST(COALESCE(SUM(CASE WHEN cls.cnt < ks.k THEN 1 END), 0) AS BIGINT)
             AS n_classes_below,
           CAST(COALESCE(SUM(CASE WHEN cls.cnt < ks.k THEN cls.cnt END), 0) AS BIGINT)
             AS n_records_below,
           {sql_iround(
               "CAST(COALESCE(SUM(CASE WHEN cls.cnt < ks.k THEN cls.cnt END), 0)"
               " AS DOUBLE) / MAX(tot.total)", 6)}
             AS at_risk_share
    FROM ks CROSS JOIN cls CROSS JOIN tot
    GROUP BY ks.k
    ORDER BY k
"""


@query(
    "v01_k_anonymity_audit",
    bench=True,  # r7: track the privacy family round-over-round
    oracle=_V01_ORACLE,
    tags=("llm", "privacy"),
)
def v01_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney): group customers into equivalence
    classes on the quasi-identifiers (nation, market segment, account
    -balance decile bucket) and report, for each policy threshold k, how
    many classes and records fall below it — the share of records a
    linkage attacker could single out under that k.

    Scale: one partial-aggregated groupBy keyed by the QI tuple produces
    the class table, whose size is bounded by QI CARDINALITY (25×5×11),
    not by the data; every downstream step (threshold explode, the
    4-group re-aggregation, the broadcast one-row total) runs on that
    bounded table. No window, no second scan of the fact table."""
    t = register(spark, sf_dir, ("customer",))
    cls = (
        t["customer"]
        .groupBy("c_nationkey", "c_mktsegment", _bal_bucket().alias("bal_bucket"))
        .agg(F.count("*").alias("cnt"))
        # two consumers (total + threshold explode) — materialize the
        # bounded class table so the fact table is scanned exactly once
        .localCheckpoint(eager=True)
    )
    tot = F.broadcast(cls.agg(F.sum("cnt").cast("bigint").alias("total")))
    below = F.when(F.col("cnt") < F.col("k"), F.col("cnt"))
    return (
        cls.select("cnt", F.explode(F.array(*[F.lit(k) for k in _V01_KS])).alias("k"))
        .crossJoin(tot)
        .groupBy("k")
        .agg(
            F.coalesce(F.sum(F.when(F.col("cnt") < F.col("k"), 1)), F.lit(0))
            .cast("bigint")
            .alias("n_classes_below"),
            F.coalesce(F.sum(below), F.lit(0)).cast("bigint").alias("n_records_below"),
            iround(
                F.coalesce(F.sum(below), F.lit(0)).cast("double") / F.max("total"), 6
            ).alias("at_risk_share"),
        )
        .select(F.col("k").cast("int").alias("k"), "n_classes_below", "n_records_below", "at_risk_share")
        .orderBy("k")
    )


# --- v02: entropy l-diversity audit -----------------------------------------

_V02_ORACLE = f"""
    WITH cell AS (
      SELECT c_nationkey, {_BAL_BUCKET_SQL} AS bal_bucket, c_mktsegment,
             COUNT(*) AS scnt
      FROM customer
      GROUP BY c_nationkey, {_BAL_BUCKET_SQL}, c_mktsegment
    ),
    cls AS (
      SELECT c_nationkey, bal_bucket,
             CAST(SUM(scnt) AS BIGINT) AS n,
             COUNT(*) AS l
      FROM cell GROUP BY c_nationkey, bal_bucket
    ),
    ent AS (
      SELECT cell.c_nationkey, cell.bal_bucket, cls.n, cls.l,
             CAST(-SUM(CAST(round_even(
               (CAST(cell.scnt AS DOUBLE) / cls.n)
                 * ln(CAST(cell.scnt AS DOUBLE) / cls.n) * 1000000000, 0)
               AS BIGINT)) AS BIGINT) AS ent_i9
      FROM cell JOIN cls
        ON cell.c_nationkey = cls.c_nationkey AND cell.bal_bucket = cls.bal_bucket
      GROUP BY cell.c_nationkey, cell.bal_bucket, cls.n, cls.l
    )
    SELECT l, CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(n) AS BIGINT) AS n_records,
           {sql_iround("CAST(MIN(ent_i9) AS DOUBLE) / 1000000000.0", 6)} AS min_entropy,
           {sql_iround("CAST(SUM(ent_i9) AS DOUBLE) / 1000000000.0 / COUNT(*)", 6)}
             AS mean_entropy
    FROM ent GROUP BY l ORDER BY l
"""


@query(
    "v02_l_diversity_entropy",
    oracle=_V02_ORACLE,
    tags=("llm", "privacy"),
)
def v02_l_diversity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy l-diversity audit (Machanavajjhala): with (nation,
    balance bucket) as the quasi-identifier and market segment as the
    sensitive attribute, compute each equivalence class's distinct
    -sensitive-value count l and sensitive-distribution entropy, then
    summarize per l: class/record counts and the min/mean entropy —
    low-l, low-entropy classes are where a homogeneity attack reads the
    sensitive value straight off the QI.

    Scale: the only data-sized pass is the (QI, sensitive) groupBy;
    everything after runs on the cardinality-bounded cell table. The
    per-cell entropy terms are rounded to scaled BIGINTs before the
    exact per-class sum, so accumulation order can't move the hash."""
    t = register(spark, sf_dir, ("customer",))
    cell = (
        t["customer"]
        .groupBy("c_nationkey", _bal_bucket().alias("bal_bucket"), "c_mktsegment")
        .agg(F.count("*").alias("scnt"))
        # feeds both the class totals and the entropy join — one fact scan
        .localCheckpoint(eager=True)
    )
    cls = cell.groupBy("c_nationkey", "bal_bucket").agg(
        F.sum("scnt").cast("bigint").alias("n"), F.count("*").alias("l")
    )
    p = F.col("scnt").cast("double") / F.col("n")
    ent = (
        cell.join(F.broadcast(cls), ["c_nationkey", "bal_bucket"])
        .groupBy("c_nationkey", "bal_bucket", "n", "l")
        .agg(
            (
                -F.sum(
                    F.call_function("rint", p * F.log(p) * F.lit(1000000000.0)).cast(
                        "bigint"
                    )
                )
            )
            .cast("bigint")
            .alias("ent_i9")
        )
    )
    return (
        ent.groupBy("l")
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum("n").cast("bigint").alias("n_records"),
            iround(F.min("ent_i9").cast("double") / F.lit(1000000000.0), 6).alias(
                "min_entropy"
            ),
            iround(
                F.sum("ent_i9").cast("double") / F.lit(1000000000.0) / F.count("*"), 6
            ).alias("mean_entropy"),
        )
        .orderBy("l")
    )


# --- v03: per-QI-subset uniqueness (re-identification risk) ------------------

_V03_SETS_SQL = """GROUPING SETS (
      (c_nationkey), (c_mktsegment), (bal_bucket),
      (c_nationkey, c_mktsegment), (c_nationkey, bal_bucket),
      (c_mktsegment, bal_bucket),
      (c_nationkey, c_mktsegment, bal_bucket))"""

_V03_ORACLE = f"""
    WITH base AS (
      SELECT c_nationkey, c_mktsegment, {_BAL_BUCKET_SQL} AS bal_bucket
      FROM customer
    ),
    cls AS (
      SELECT concat_ws('+',
               CASE WHEN GROUPING(c_nationkey) = 0 THEN 'nation' END,
               CASE WHEN GROUPING(c_mktsegment) = 0 THEN 'segment' END,
               CASE WHEN GROUPING(bal_bucket) = 0 THEN 'balance' END) AS qi_set,
             COUNT(*) AS cnt
      FROM base
      GROUP BY {_V03_SETS_SQL}
    )
    SELECT qi_set,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 END), 0) AS BIGINT)
             AS n_unique_classes,
           CAST(SUM(cnt) AS BIGINT) AS n_records,
           {sql_iround(
               "CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 END), 0) AS DOUBLE)"
               " / SUM(cnt)", 6)} AS unique_record_share
    FROM cls GROUP BY qi_set ORDER BY qi_set
"""


@query(
    "v03_qi_uniqueness_risk",
    oracle=_V03_ORACLE,
    tags=("llm", "privacy"),
)
def v03_qi_uniqueness_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-QI-subset re-identification risk: for every non-empty subset
    of the quasi-identifiers {nation, segment, balance bucket}, the
    share of records that are UNIQUE within their equivalence class —
    how disclosure risk grows as an attacker links more attributes
    (the uniqueness curve behind k-anonymity policy choices).

    Scale: ONE scan — GROUPING SETS expands the seven subsets inside a
    single aggregation (Catalyst's Expand node), partial-aggregated
    map-side; the second-level roll-up runs on the bounded class table.
    Explicit sets (no grand total) keep the Expand factor at 7."""
    t = register(spark, sf_dir, ("customer",))
    base = t["customer"].select(
        "c_nationkey", "c_mktsegment", _bal_bucket().alias("bal_bucket")
    )
    label = F.concat_ws(
        "+",
        F.when(F.grouping("c_nationkey") == 0, F.lit("nation")),
        F.when(F.grouping("c_mktsegment") == 0, F.lit("segment")),
        F.when(F.grouping("bal_bucket") == 0, F.lit("balance")),
    )
    cls = base.groupingSets(
        [
            ["c_nationkey"],
            ["c_mktsegment"],
            ["bal_bucket"],
            ["c_nationkey", "c_mktsegment"],
            ["c_nationkey", "bal_bucket"],
            ["c_mktsegment", "bal_bucket"],
            ["c_nationkey", "c_mktsegment", "bal_bucket"],
        ],
        "c_nationkey",
        "c_mktsegment",
        "bal_bucket",
    ).agg(label.alias("qi_set"), F.count("*").alias("cnt"))
    uniq = F.coalesce(F.sum(F.when(F.col("cnt") == 1, 1)), F.lit(0))
    return (
        cls.groupBy("qi_set")
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            uniq.cast("bigint").alias("n_unique_classes"),
            F.sum("cnt").cast("bigint").alias("n_records"),
            iround(uniq.cast("double") / F.sum("cnt"), 6).alias("unique_record_share"),
        )
        .orderBy("qi_set")
    )


# --- x06: Benjamini–Hochberg FDR over a Welch z-test screen ------------------

# Abramowitz & Stegun 7.1.26 erfc(x) = poly(t)·exp(−x²), t = 1/(1+0.3275911·x):
# max abs error 1.5e-7 — far below the 1e-8 rounding both engines apply, and
# both evaluate the IDENTICAL literal polynomial on bit-identical doubles, so
# the approximation error cancels out of the hash entirely.
_AS_P = "0.3275911"
_AS_A = ("0.254829592", "-0.284496736", "1.421413741", "-1.453152027", "1.061405429")
_INV_SQRT2 = "0.7071067811865476"
_X06_Q = "0.1"


def _erfc_sql(x: str) -> str:
    t = f"(1.0 / (1.0 + CAST({_AS_P} AS DOUBLE) * {x}))"
    poly = (
        f"(CAST({_AS_A[0]} AS DOUBLE) * {t}"
        f" + CAST({_AS_A[1]} AS DOUBLE) * {t} * {t}"
        f" + CAST({_AS_A[2]} AS DOUBLE) * {t} * {t} * {t}"
        f" + CAST({_AS_A[3]} AS DOUBLE) * {t} * {t} * {t} * {t}"
        f" + CAST({_AS_A[4]} AS DOUBLE) * {t} * {t} * {t} * {t} * {t})"
    )
    return f"({poly} * exp(-({x}) * ({x})))"


def _erfc_col(x: F.Column) -> F.Column:
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(float(_AS_P)) * x)
    poly = (
        F.lit(float(_AS_A[0])) * t
        + F.lit(float(_AS_A[1])) * t * t
        + F.lit(float(_AS_A[2])) * t * t * t
        + F.lit(float(_AS_A[3])) * t * t * t * t
        + F.lit(float(_AS_A[4])) * t * t * t * t * t
    )
    return poly * F.exp(-x * x)


# shared Welch p-value CTE prefix (x06's screen; x09 reuses it for the A/A
# calibration audit)
_WELCH_P_CTES = f"""
    WITH j AS (
      SELECT c.c_nationkey, c.c_mktsegment,
             c.c_custkey % 2 AS arm,
             CAST(round_even(o.o_totalprice, 0) AS BIGINT) AS d
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN 1 END), 0) AS BIGINT) AS n0,
             CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN 1 END), 0) AS BIGINT) AS n1,
             CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN d END), 0) AS BIGINT) AS s0,
             CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN d END), 0) AS BIGINT) AS s1,
             CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN d * d END), 0) AS BIGINT) AS ss0,
             CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN d * d END), 0) AS BIGINT) AS ss1
      FROM j GROUP BY c_nationkey, c_mktsegment
      HAVING COALESCE(SUM(CASE WHEN arm = 0 THEN 1 END), 0) >= 2
         AND COALESCE(SUM(CASE WHEN arm = 1 THEN 1 END), 0) >= 2
    ),
    vars AS (
      SELECT *,
             (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / n0)
               / (n0 - 1) AS v0,
             (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
               / (n1 - 1) AS v1
      FROM cells
    ),
    z AS (
      SELECT c_nationkey, c_mktsegment, n0, n1,
             (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
               / sqrt(v1 / n1 + v0 / n0) AS zval
      FROM vars WHERE v1 / n1 + v0 / n0 > 0
    ),
    p AS (
      SELECT c_nationkey, c_mktsegment, n0, n1,
             {sql_iround("zval", 4)} AS z,
             {sql_iround(_erfc_sql(f"(abs(zval) * CAST({_INV_SQRT2} AS DOUBLE))"), 8)}
               AS p_value
      FROM z
    )"""

_X06_ORACLE = _WELCH_P_CTES + f""",
    ranked AS (
      SELECT *,
             CAST(ROW_NUMBER() OVER (
               ORDER BY p_value, c_nationkey, c_mktsegment) AS INT) AS rnk,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM p
    ),
    kstar AS (
      SELECT COALESCE(MAX(CASE WHEN p_value <=
               CAST(rnk AS DOUBLE) * CAST({_X06_Q} AS DOUBLE) / m
             THEN rnk END), 0) AS k FROM ranked
    )
    SELECT r.c_nationkey, r.c_mktsegment, r.n0, r.n1, r.z, r.p_value, r.rnk,
           CAST(CASE WHEN r.rnk <= k.k THEN 1 ELSE 0 END AS INT) AS rejected
    FROM ranked r CROSS JOIN kstar k
    ORDER BY r.rnk
"""


def _welch_p_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (nation × segment) Welch z-test table — one partial-aggregated
    fact pass into exact whole-dollar BIGINT moments, z/p computed on the
    ≤125-row cell table, checkpointed for multi-consumer reuse. Shared by
    x06 (BH correction) and x09 (A/A calibration)."""
    t = register(spark, sf_dir, ("orders", "customer"))
    j = t["orders"].join(
        t["customer"], t["orders"]["o_custkey"] == t["customer"]["c_custkey"]
    )
    d = F.call_function("rint", F.col("o_totalprice")).cast("bigint")
    arm = F.col("c_custkey") % 2
    agg = lambda a, expr: F.coalesce(  # noqa: E731
        F.sum(F.when(arm == a, expr)), F.lit(0)
    ).cast("bigint")
    cells = (
        j.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            agg(0, F.lit(1)).alias("n0"),
            agg(1, F.lit(1)).alias("n1"),
            agg(0, d).alias("s0"),
            agg(1, d).alias("s1"),
            agg(0, d * d).alias("ss0"),
            agg(1, d * d).alias("ss1"),
        )
        .filter((F.col("n0") >= 2) & (F.col("n1") >= 2))
    )
    v0 = (
        F.col("ss0").cast("double")
        - F.col("s0").cast("double") * F.col("s0").cast("double") / F.col("n0")
    ) / (F.col("n0") - 1)
    v1 = (
        F.col("ss1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n1")
    ) / (F.col("n1") - 1)
    vars_ = cells.withColumn("v0", v0).withColumn("v1", v1)
    zval = (
        F.col("s1").cast("double") / F.col("n1")
        - F.col("s0").cast("double") / F.col("n0")
    ) / F.sqrt(F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0"))
    return vars_.filter(
        F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0") > 0
    ).select(
        "c_nationkey",
        "c_mktsegment",
        "n0",
        "n1",
        iround(zval, 4).alias("z"),
        iround(_erfc_col(F.abs(zval) * F.lit(float(_INV_SQRT2))), 8).alias("p_value"),
        # the cell table feeds multiple consumers (BH threshold scan +
        # report; x09's histogram) — materialize so the fact join runs once
    ).localCheckpoint(eager=True)


@query(
    "x06_bh_fdr_screen",
    oracle=_X06_ORACLE,
    tags=("experimentation", "stats"),
)
def x06_bh_fdr_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over a (nation × segment) screen
    of Welch z-tests on order value between two hash-split arms — the
    multiple-testing correction a metrics platform applies when it
    fires 125 cell-level comparisons at once. Emits each test's z, BH
    rank, p, and whether BH at q=0.1 rejects it (the arms are a null
    split, so discoveries ≈ false discoveries ≈ controlled).

    Scale: per-cell moments come from ONE partial-aggregated pass over
    the join (exact whole-dollar BIGINT sums, so distributed
    accumulation order is irrelevant); the z/p math, ranking window,
    and BH step function all run on the ≤125-row cell table. The normal
    tail is an explicit A&S erfc polynomial both engines evaluate on
    bit-identical doubles (no libm erf dependency)."""
    z = _welch_p_frame(spark, sf_dir)
    # ≤125 rows past this point: the ranking window and the BH step
    # function run on a model-sized table, never on the fact scan.
    w = _gw().orderBy("p_value", "c_nationkey", "c_mktsegment")
    ranked = z.select(
        "*",
        F.row_number().over(w).cast("int").alias("rnk"),
        F.count("*").over(W.partitionBy()).cast("bigint").alias("m"),
    )
    kstar = F.broadcast(
        ranked.agg(
            F.coalesce(
                F.max(
                    F.when(
                        F.col("p_value")
                        <= F.col("rnk").cast("double")
                        * F.lit(float(_X06_Q))
                        / F.col("m"),
                        F.col("rnk"),
                    )
                ),
                F.lit(0),
            ).alias("kk")
        )
    )
    return (
        ranked.crossJoin(kstar)
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n0",
            "n1",
            "z",
            "p_value",
            "rnk",
            F.when(F.col("rnk") <= F.col("kk"), 1).otherwise(0).cast("int").alias("rejected"),
        )
        .orderBy("rnk")
    )


# --- x08: seeded Poisson bootstrap CI ---------------------------------------

_X08_R = 200
_POW60 = float(2**60)
# ONE md5 per order row, 201 replicate uniforms by affine universal hashing
# (the d18 pattern): u_r = ((A+r)·x + B mod P)/P with x = md5_56(key) mod P.
# x, A+r < 2^31 keep the product under 2^62 — exact on both engines' signed
# 64-bit arithmetic; the replicate index MULTIPLIES (plan-trap 7: an added
# suffix would shift every key by a constant instead of reshuffling).
_X08_P = 2_147_483_647  # Mersenne prime 2^31−1
_X08_A = 104_729
_X08_B = 12_345
# Poisson(1) CDF thresholds P(X<=k), k = 0..7 (repr round-trips to the same
# double on both engines; u beyond the last threshold maps to 8).
_POIS_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.9999167588507119",
    "0.9999897508033253",
)


def _pois_sql(u: str) -> str:
    clauses = " ".join(
        f"WHEN {u} < CAST({c} AS DOUBLE) THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {clauses} ELSE 8 END)"


def _pois_col(u: F.Column) -> F.Column:
    expr: F.Column = F.lit(8)
    for k in reversed(range(len(_POIS_CDF))):
        expr = F.when(u < F.lit(float(_POIS_CDF[k])), F.lit(k)).otherwise(expr)
    return expr


_X08_ORACLE = f"""
    WITH o AS (
      SELECT o_orderkey,
             CAST(round_even(o_totalprice, 0) AS BIGINT) AS d,
             CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2')
                  THEN 1 ELSE 0 END AS urgent,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 14))
               AS BIGINT) % {_X08_P} AS x
      FROM orders
    ),
    reps AS (
      SELECT o.*, r.r,
             CASE WHEN r.r = 0 THEN 1 ELSE {_pois_sql(
                 f"(((({_X08_A} + r.r) * o.x + {_X08_B}) % {_X08_P})"
                 f" / CAST({_X08_P} AS DOUBLE))")} END AS w
      FROM o CROSS JOIN (SELECT UNNEST(range(0, {_X08_R + 1})) AS r) r
    ),
    per_rep AS (
      SELECT r,
             {sql_iround(
                 "CAST(SUM(CASE WHEN urgent = 1 THEN w * d END) AS DOUBLE)"
                 " / SUM(CASE WHEN urgent = 1 THEN w END)"
                 " - CAST(SUM(CASE WHEN urgent = 0 THEN w * d END) AS DOUBLE)"
                 " / SUM(CASE WHEN urgent = 0 THEN w END)", 4)} AS diff
      FROM reps GROUP BY r
    ),
    est AS (SELECT diff AS est_diff FROM per_rep WHERE r = 0),
    boot AS (
      SELECT diff, CAST(round_even(diff * 10000, 0) AS BIGINT) AS e4,
             ROW_NUMBER() OVER (ORDER BY diff, r) AS rn
      FROM per_rep WHERE r > 0
    ),
    ctr AS (
      SELECT CAST(round_even(est_diff * 10000, 0) AS BIGINT) AS c4 FROM est
    )
    SELECT CAST({_X08_R} AS BIGINT) AS n_boot,
           MAX(est.est_diff) AS est_diff,
           MAX(CASE WHEN boot.rn = 5 THEN boot.diff END) AS ci_lo,
           MAX(CASE WHEN boot.rn = {_X08_R - 4} THEN boot.diff END) AS ci_hi,
           {sql_iround(
               "sqrt((CAST(SUM((boot.e4 - ctr.c4) * (boot.e4 - ctr.c4)) AS DOUBLE)"
               f" - CAST(SUM(boot.e4 - ctr.c4) AS DOUBLE)"
               f" * CAST(SUM(boot.e4 - ctr.c4) AS DOUBLE) / {_X08_R})"
               f" / {_X08_R - 1}) / 10000.0", 4)} AS boot_se
    FROM boot CROSS JOIN est CROSS JOIN ctr
"""


@query(
    "x08_poisson_bootstrap_ci",
    oracle=_X08_ORACLE,
    tags=("experimentation", "stats"),
    bench=True,  # the distributed-resampling throughput shape
)
def x08_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Poisson(1) bootstrap (200 replicates) for the mean order
    -value gap between urgent (priority 1–2) and other orders: point
    estimate, percentile 95% CI, and the bootstrap SE. Poisson
    bootstrap is THE distributed resampling scheme — each row draws its
    replicate weights independently (md5-seeded inverse-CDF), so no
    replicate ever needs a global sample.

    Scale: the replicate dimension explodes 201× BEFORE a partial
    aggregation whose group count is 201 — map-side combine collapses
    each task to ≤201 rows regardless of data size, and every
    subsequent step (order statistics, centered exact-integer SE) runs
    on the 200-row replicate table. Replicate 0 carries weight 1
    everywhere = the point estimate, same single pass."""
    t = register(spark, sf_dir, ("orders",))
    o = t["orders"].select(
        "o_orderkey",
        F.call_function("rint", F.col("o_totalprice")).cast("bigint").alias("d"),
        F.when(F.substring("o_orderpriority", 1, 1).isin("1", "2"), 1)
        .otherwise(0)
        .alias("urgent"),
        (
            F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 14), 16, 10)
            .cast("long")
            % F.lit(_X08_P)
        ).alias("x"),
    )
    u = ((F.lit(_X08_A) + F.col("r")) * F.col("x") + F.lit(_X08_B)) % F.lit(
        _X08_P
    ) / F.lit(float(_X08_P))
    reps = o.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(_X08_R))).alias("r")
    ).withColumn("w", F.when(F.col("r") == 0, F.lit(1)).otherwise(_pois_col(u)))
    side = lambda flag, expr: F.sum(  # noqa: E731
        F.when(F.col("urgent") == flag, expr)
    )
    per_rep = reps.groupBy("r").agg(
        iround(
            side(1, F.col("w") * F.col("d")).cast("double") / side(1, F.col("w"))
            - side(0, F.col("w") * F.col("d")).cast("double") / side(0, F.col("w")),
            4,
        ).alias("diff")
        # consumed twice (point estimate + bootstrap order statistics) —
        # materialize the 201-row replicate table so the 201× exploded
        # fact scan runs exactly once
    ).localCheckpoint(eager=True)
    # 201 rows from here on: order statistics + centered integer SE on a
    # model-sized table.
    est = F.broadcast(
        per_rep.filter(F.col("r") == 0).select(
            F.col("diff").alias("est_diff"),
            F.call_function("rint", F.col("diff") * F.lit(10000.0))
            .cast("bigint")
            .alias("c4"),
        )
    )
    boot = (
        per_rep.filter(F.col("r") > 0)
        .select(
            "diff",
            F.call_function("rint", F.col("diff") * F.lit(10000.0))
            .cast("bigint")
            .alias("e4"),
            F.row_number().over(_gw().orderBy("diff", "r")).alias("rn"),
        )
        .crossJoin(est)
    )
    dc = F.col("e4") - F.col("c4")
    n, n1 = float(_X08_R), float(_X08_R - 1)
    return boot.agg(
        F.lit(_X08_R).cast("bigint").alias("n_boot"),
        F.max("est_diff").alias("est_diff"),
        F.max(F.when(F.col("rn") == 5, F.col("diff"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == _X08_R - 4, F.col("diff"))).alias("ci_hi"),
        iround(
            F.sqrt(
                (
                    F.sum(dc * dc).cast("double")
                    - F.sum(dc).cast("double") * F.sum(dc).cast("double") / F.lit(n)
                )
                / F.lit(n1)
            )
            / F.lit(10000.0),
            4,
        ).alias("boot_se"),
    )


# --- g03: bounded supply-chain reach (3-hop BFS) -----------------------------

_G03_SEEDS = (0, 1, 2, 3, 4)

_G03_ORACLE = f"""
    WITH e AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    h1 AS (
      SELECT DISTINCT l_suppkey AS seed, l_partkey AS p
      FROM e WHERE l_suppkey IN ({", ".join(str(s) for s in _G03_SEEDS)})
    ),
    h2 AS (
      SELECT DISTINCT h1.seed, e.l_suppkey AS s
      FROM h1 JOIN e ON e.l_partkey = h1.p
    ),
    h3 AS (
      SELECT DISTINCT h2.seed, e.l_partkey AS p
      FROM h2 JOIN e ON e.l_suppkey = h2.s
    )
    SELECT h1.seed,
           CAST(COUNT(DISTINCT h1.p) AS BIGINT) AS n_parts_1hop,
           CAST(MAX(c2.n) AS BIGINT) AS n_suppliers_2hop,
           CAST(MAX(c3.n) AS BIGINT) AS n_parts_3hop
    FROM h1
    JOIN (SELECT seed, COUNT(*) AS n FROM h2 GROUP BY seed) c2 ON c2.seed = h1.seed
    JOIN (SELECT seed, COUNT(*) AS n FROM h3 GROUP BY seed) c3 ON c3.seed = h1.seed
    GROUP BY h1.seed
    ORDER BY h1.seed
"""


@query(
    "g03_supply_chain_reach",
    bench=True,  # r7: track the BSP-BFS graph shape round-over-round
    oracle=_G03_ORACLE,
    tags=("graph",),
)
def g03_supply_chain_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS over the bipartite supplier↔part graph defined
    by lineitem: for five seed suppliers, the distinct frontier sizes at
    1 hop (parts they ship), 2 hops (co-suppliers of those parts), and
    3 hops (the co-suppliers' full part range) — the blast-radius
    question (recall impact of a supplier failure) as iterative
    frontier expansion.

    Scale: the BSP-BFS shape — each hop is one equi-join of the current
    frontier against the deduplicated edge table followed by a frontier
    DISTINCT, so per-hop state is (seed, node) pairs, never paths; the
    seed side stays broadcast-sized throughout. Depth is fixed, so no
    driver-side convergence loop. The three per-hop counts come from one
    aggregate over the hop-tagged frontiers, not three aggregates joined."""
    t = register(spark, sf_dir, ("lineitem",))
    # the edge table is probed once per hop — materialize the distinct
    # result so the fact scan + dedup shuffle run once, not three times
    # (the cluster-scale analogue is .persist() on the edge RDD every BFS
    # implementation carries)
    e = t["lineitem"].select("l_suppkey", "l_partkey").distinct().localCheckpoint(eager=True)
    # e is distinct on (suppkey, partkey), so the 1-hop frontier is a
    # plain filtered projection of it: no DISTINCT, no materialization
    h1 = e.filter(F.col("l_suppkey").isin(*_G03_SEEDS)).select(
        F.col("l_suppkey").alias("seed"), F.col("l_partkey").alias("p")
    )
    # two consumers (the 3rd hop's broadcast side and the hop counts)
    h2 = (
        F.broadcast(h1)
        .join(e, e["l_partkey"] == h1["p"])
        .select("seed", F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h3 = (
        F.broadcast(h2)
        .join(e, e["l_suppkey"] == h2["s"])
        .select("seed", F.col("l_partkey").alias("p"))
        .distinct()
    )
    # the three per-hop counts from ONE aggregate over the hop-tagged
    # frontiers; a seed missing from any hop is dropped (inner-join
    # semantics of the per-hop counts)
    hops = (
        h1.select("seed", F.lit(1).alias("hop"))
        .unionByName(h2.select("seed", F.lit(2).alias("hop")))
        .unionByName(h3.select("seed", F.lit(3).alias("hop")))
    )
    n_hop = lambda k: F.count(F.when(F.col("hop") == k, 1)).cast("bigint")  # noqa: E731
    return (
        hops.groupBy("seed")
        .agg(
            n_hop(1).alias("n_parts_1hop"),
            n_hop(2).alias("n_suppliers_2hop"),
            n_hop(3).alias("n_parts_3hop"),
        )
        .filter(
            (F.col("n_parts_1hop") > 0)
            & (F.col("n_suppliers_2hop") > 0)
            & (F.col("n_parts_3hop") > 0)
        )
        .orderBy("seed")
    )


# --- f05: EWMA one-step-ahead backtest vs naive -----------------------------

_F05_ALPHA = 0.3
_F05_MAXLAG = 120
_F05_WARMUP = 13  # first evaluated month index (t is 0-based)

# Python computes every (1-α)^n once; both engines receive the same literal
# and only ever multiply it by an exact integer — neither engine's pow() is
# in the hash path.
_F05_W = [(n, repr((1.0 - _F05_ALPHA) ** n)) for n in range(_F05_MAXLAG)]

_F05_WEIGHTS_SQL = " UNION ALL ".join(
    f"SELECT {n} AS lagn, CAST('{w}' AS DOUBLE) AS w" for n, w in _F05_W
)

_F05_ORACLE = f"""
    WITH monthly AS (
      SELECT c.c_nationkey,
             (year(o.o_orderdate) - 1995) * 12 + month(o.o_orderdate) - 1 AS t,
             CAST(SUM(CAST(round_even(o.o_totalprice, 0) AS BIGINT)) AS BIGINT) AS yd
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, (year(o.o_orderdate) - 1995) * 12 + month(o.o_orderdate) - 1
    ),
    wt AS ({_F05_WEIGHTS_SQL}),
    terms AS (
      SELECT cur.c_nationkey, cur.t, cur.yd,
             CAST(round_even(
               (CAST(hist.yd AS DOUBLE) * wt.w)
                 * (CASE WHEN hist.t = 0 THEN 1.0
                         ELSE CAST({_F05_ALPHA!r} AS DOUBLE) END) * 100.0, 0)
               AS BIGINT) AS term_i2
      FROM monthly cur
      JOIN monthly hist
        ON hist.c_nationkey = cur.c_nationkey AND hist.t <= cur.t - 1
      JOIN wt ON wt.lagn = cur.t - 1 - hist.t
      WHERE cur.t >= {_F05_WARMUP}
    ),
    fc AS (
      SELECT c_nationkey, t, MAX(yd) AS yd,
             CAST(SUM(term_i2) AS BIGINT) AS s_i2
      FROM terms GROUP BY c_nationkey, t
    ),
    errs AS (
      SELECT fc.c_nationkey, fc.t, fc.yd,
             abs(CAST(fc.yd AS DOUBLE) - CAST(fc.s_i2 AS DOUBLE) / 100.0) AS ewma_err,
             abs(CAST(fc.yd AS BIGINT) - prev.yd) AS naive_err
      FROM fc JOIN monthly prev
        ON prev.c_nationkey = fc.c_nationkey AND prev.t = fc.t - 1
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_eval_months,
           {sql_iround(
               "CAST(SUM(CAST(round_even(ewma_err * 100.0, 0) AS BIGINT)) AS DOUBLE)"
               " / 100.0 / SUM(yd)", 6)} AS ewma_wape,
           {sql_iround("CAST(SUM(naive_err) AS DOUBLE) / SUM(yd)", 6)} AS naive_wape
    FROM errs GROUP BY c_nationkey ORDER BY c_nationkey
"""


@query(
    "f05_ewma_backtest",
    oracle=_F05_ORACLE,
    tags=("forecast",),
)
def f05_ewma_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead EWMA (α=0.3) forecast backtest on monthly revenue
    per nation, scored as WAPE against the naive last-month forecast —
    whether exponential smoothing earns its keep over f01's seasonal
    -naive family. The smoothing recursion s_t = αy_t + (1−α)s_{t−1} is
    unrolled into its closed-form weighted sum, so the forecast for
    month t is an exact function of history — no sequential state.

    Scale: the only data-sized pass is the monthly groupBy (exact
    whole-dollar sums); the history pair join, weight lookup, and WAPE
    aggregation all run on the calendar-bounded nation×month table
    (25×80 rows — bounded by the calendar, not the data). The (1−α)^n
    weights are Python-computed literals shipped to BOTH engines, so no
    engine pow() is in the hash path; each term rounds to scaled BIGINT
    before the exact sum."""
    t = register(spark, sf_dir, ("orders", "customer"))
    monthly = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_nationkey",
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
            ).alias("t"),
        )
        .agg(
            F.sum(F.call_function("rint", F.col("o_totalprice")).cast("bigint"))
            .cast("bigint")
            .alias("yd")
        )
        # three consumers (current months, smoothing history, naive lag) —
        # materialize the calendar-bounded monthly table so the fact join
        # runs exactly once; the self-join sides get explicit broadcasts
        # below because a checkpoint loses Catalyst stats (plan-trap 2)
        .localCheckpoint(eager=True)
    )
    spark_wt = F.broadcast(
        monthly.sparkSession.createDataFrame(
            [(n, float(w)) for n, w in ((n, (1.0 - _F05_ALPHA) ** n) for n, _ in _F05_W)],
            "lagn int, w double",
        )
    )
    cur = monthly.select(
        F.col("c_nationkey"), F.col("t"), F.col("yd")
    ).filter(F.col("t") >= _F05_WARMUP)
    hist = monthly.select(
        F.col("c_nationkey").alias("hn"), F.col("t").alias("ht"), F.col("yd").alias("hyd")
    )
    terms = (
        cur.join(
            F.broadcast(hist),
            (F.col("hn") == F.col("c_nationkey")) & (F.col("ht") <= F.col("t") - 1),
        )
        .join(spark_wt, F.col("lagn") == F.col("t") - 1 - F.col("ht"))
        .select(
            "c_nationkey",
            "t",
            "yd",
            F.call_function(
                "rint",
                (F.col("hyd").cast("double") * F.col("w"))
                * F.when(F.col("ht") == 0, F.lit(1.0)).otherwise(F.lit(_F05_ALPHA))
                * F.lit(100.0),
            )
            .cast("bigint")
            .alias("term_i2"),
        )
    )
    fc = terms.groupBy("c_nationkey", "t").agg(
        F.max("yd").alias("yd"), F.sum("term_i2").cast("bigint").alias("s_i2")
    )
    prev = monthly.select(
        F.col("c_nationkey").alias("pn"), F.col("t").alias("pt"), F.col("yd").alias("pyd")
    )
    errs = fc.join(
        F.broadcast(prev),
        (F.col("pn") == F.col("c_nationkey")) & (F.col("pt") == F.col("t") - 1),
    ).select(
        "c_nationkey",
        "yd",
        F.abs(F.col("yd").cast("double") - F.col("s_i2").cast("double") / F.lit(100.0)).alias(
            "ewma_err"
        ),
        F.abs(F.col("yd") - F.col("pyd")).alias("naive_err"),
    )
    return (
        errs.groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_eval_months"),
            iround(
                F.sum(
                    F.call_function("rint", F.col("ewma_err") * F.lit(100.0)).cast(
                        "bigint"
                    )
                ).cast("double")
                / F.lit(100.0)
                / F.sum("yd"),
                6,
            ).alias("ewma_wape"),
            iround(F.sum("naive_err").cast("double") / F.sum("yd"), 6).alias(
                "naive_wape"
            ),
        )
        .orderBy("c_nationkey")
    )


# --- u09: partition-layout skew audit ---------------------------------------

_U09_BYTES_SQL = "(33 + length(event_type) + length(props))"

_U09_ORACLE = f"""
    WITH per_day AS (
      SELECT CAST(ts AS DATE) AS day,
             COUNT(*) AS n_rows,
             CAST(SUM({_U09_BYTES_SQL}) AS BIGINT) AS est_bytes
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    med AS (SELECT median(n_rows) AS med_rows,
                   CAST(SUM(n_rows) AS BIGINT) AS total FROM per_day)
    SELECT per_day.day, CAST(per_day.n_rows AS BIGINT) AS n_rows, per_day.est_bytes,
           {sql_iround("CAST(per_day.n_rows AS DOUBLE) / med.total", 6)} AS rows_share,
           {sql_iround("CAST(per_day.n_rows AS DOUBLE) / med.med_rows", 4)}
             AS skew_vs_median,
           CAST(CASE WHEN CAST(per_day.n_rows AS DOUBLE) / med.med_rows > 1.5
                THEN 1 ELSE 0 END AS INT) AS is_hot
    FROM per_day CROSS JOIN med
    ORDER BY per_day.day
"""


@query(
    "u09_partition_skew_audit",
    oracle=_U09_ORACLE,
    tags=("warehouse", "ops"),
)
def u09_partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout audit run BEFORE a partitioned write: for a
    day-partitioned events landing, per-partition row counts and
    estimated bytes (fixed-width columns + variable string payloads),
    each day's share, its skew ratio vs the median partition, and a
    hot-partition flag (>1.5× median) — the numbers that decide
    repartition counts, bucketing, and AQE skew thresholds at 100 TB.

    Scale: one partial-aggregated pass keyed by the partition value
    (day) — output cardinality is calendar-bounded; the median and
    total come from the bounded per-day table and broadcast back as a
    one-row join. No sort of the fact data, no window."""
    t = register(spark, sf_dir, ("events",))
    per_day = (
        t["events"]
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.lit(33) + F.length("event_type") + F.length("props")
            )
            .cast("bigint")
            .alias("est_bytes"),
        )
        # feeds the median/total aggregate AND the report — one fact scan
        .localCheckpoint(eager=True)
    )
    med = F.broadcast(
        per_day.agg(
            F.expr("percentile(n_rows, 0.5)").alias("med_rows"),
            F.sum("n_rows").cast("bigint").alias("total"),
        )
    )
    skew = F.col("n_rows").cast("double") / F.col("med_rows")
    return (
        per_day.crossJoin(med)
        .select(
            F.col("day").cast("timestamp").alias("day"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            "est_bytes",
            iround(F.col("n_rows").cast("double") / F.col("total"), 6).alias(
                "rows_share"
            ),
            iround(skew, 4).alias("skew_vs_median"),
            F.when(skew > 1.5, 1).otherwise(0).cast("int").alias("is_hot"),
        )
        .orderBy("day")
    )


# --- t45: padding waste vs length-bucket count ------------------------------

_T45_B = 32
_T45_NBS = (1, 4, 16)
_T45_TOKENS_SQL = "CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)"

_T45_ORACLE = f"""
    WITH docs AS (
      SELECT doc_id, {_T45_TOKENS_SQL} AS n_tokens FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) - 1 AS r1,
             COUNT(*) OVER () AS n
      FROM docs
    ),
    assigned AS (
      SELECT nb.nb, n_tokens,
             FLOOR(CAST(r1 * nb.nb AS DOUBLE) / n) AS bucket,
             FLOOR((r1 - CEIL(CAST(FLOOR(CAST(r1 * nb.nb AS DOUBLE) / n) * n AS DOUBLE)
                              / nb.nb)) / {_T45_B}.0) AS batch
      FROM ranked
      CROSS JOIN (SELECT UNNEST([{", ".join(str(n) for n in _T45_NBS)}]) AS nb) nb
    ),
    batches AS (
      SELECT nb, bucket, batch,
             COUNT(*) AS cnt, MAX(n_tokens) AS mx,
             CAST(SUM(n_tokens) AS BIGINT) AS sm
      FROM assigned GROUP BY nb, bucket, batch
    )
    SELECT CAST(nb AS INT) AS n_buckets,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(cnt * mx - sm) AS BIGINT) AS padded_tokens,
           CAST(SUM(sm) AS BIGINT) AS real_tokens,
           {sql_iround("CAST(SUM(cnt * mx - sm) AS DOUBLE) / SUM(cnt * mx)", 6)}
             AS padding_share
    FROM batches GROUP BY nb ORDER BY n_buckets
"""


@query(
    "t45_batch_padding_efficiency",
    oracle=_T45_ORACLE,
    tags=("llm", "text", "training"),
    bench=True,  # the distributed-prefix-sum shape was not in the bench set
)
def t45_batch_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch padding waste vs length-bucket count: sort the
    corpus by token length, split it into nb ∈ {1, 4, 16} rank-contiguous
    buckets, form fixed-size (B=32) batches inside each bucket, and
    measure the padded-token share (each batch pads to its max length) —
    the dataloader-knob curve that says how much bucketing buys before
    sequence packing (t11) takes over.

    Scale: the global length rank comes from the distributed range
    -bucketed prefix sum (`operators/packing.prefix_sum`) — never a
    single-partition window; bucket and batch ids are then pure
    arithmetic on the rank, and the two roll-ups aggregate by (nb,
    bucket, batch) with map-side combine. Exact-integer waste sums."""
    from dibimbing_case_study_etl_spark.functions.text import token_count
    from dibimbing_case_study_etl_spark.operators.packing import prefix_sum_with_total

    t = register(spark, sf_dir, ("documents",))
    docs = t["documents"].select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    ).withColumn("one", F.lit(1))
    # the document count is the prefix sum's grand total, already on the
    # driver: a literal, so ``ranked`` has one consumer and is not
    # materialized again
    ranked, n_docs = prefix_sum_with_total(docs, "one", ["n_tokens", "doc_id"], out_col="rank")
    n = F.lit(n_docs).cast("bigint")
    r1 = F.col("rank") - 1
    bucket = F.floor((r1 * F.col("nb")).cast("double") / n)
    bstart = F.ceil((bucket * n).cast("double") / F.col("nb"))
    assigned = (
        ranked.select(
            "n_tokens",
            F.explode(F.array(*[F.lit(b) for b in _T45_NBS])).alias("nb"),
            "rank",
        )
        .select(
            "nb",
            "n_tokens",
            bucket.alias("bucket"),
            F.floor((r1 - bstart) / F.lit(float(_T45_B))).alias("batch"),
        )
    )
    batches = assigned.groupBy("nb", "bucket", "batch").agg(
        F.count("*").alias("cnt"),
        F.max("n_tokens").alias("mx"),
        F.sum("n_tokens").cast("bigint").alias("sm"),
    )
    pad = F.col("cnt") * F.col("mx") - F.col("sm")
    return (
        batches.groupBy(F.col("nb").cast("int").alias("n_buckets"))
        .agg(
            F.count("*").cast("bigint").alias("n_batches"),
            F.sum(pad).cast("bigint").alias("padded_tokens"),
            F.sum("sm").cast("bigint").alias("real_tokens"),
            iround(
                F.sum(pad).cast("double") / F.sum(F.col("cnt") * F.col("mx")), 6
            ).alias("padding_share"),
        )
        .orderBy("n_buckets")
    )


# --- v04: differentially-private histogram release ---------------------------

_V04_EPS = "0.5"

_V04_ORACLE = f"""
    WITH cnts AS (
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM customer GROUP BY c_nationkey
    ),
    seeded AS (
      SELECT c_nationkey, true_count,
             CAST(('0x' || substr(md5('dp1:' || CAST(c_nationkey AS VARCHAR)), 1, 15))
               AS BIGINT) / {float(2**60)!r} AS u
      FROM cnts
    ),
    noised AS (
      SELECT c_nationkey, true_count,
             -(1.0 / CAST({_V04_EPS} AS DOUBLE)) * sign(u - 0.5)
               * ln(greatest(1.0 - 2.0 * abs(u - 0.5), 1e-15)) AS noise
      FROM seeded
    )
    SELECT c_nationkey, true_count,
           {sql_iround("true_count + noise", 4)} AS noisy_count,
           {sql_iround("abs(noise)", 4)} AS abs_noise,
           CAST({_V04_EPS} AS DOUBLE) AS epsilon
    FROM noised ORDER BY c_nationkey
"""


@query(
    "v04_dp_noisy_release",
    oracle=_V04_ORACLE,
    tags=("llm", "privacy"),
)
def v04_dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private histogram release: per-nation customer
    counts plus Laplace(Δf/ε) noise (Δf = 1 for a count, ε = 0.5), the
    noise drawn by inverse-CDF from an md5-seeded uniform so the release
    is reproducible AND both engines draw the identical value — the
    mechanism a privacy team ships in front of raw group-bys, with the
    per-release ε recorded for budget accounting.

    Scale: one partial-aggregated count keyed by the release dimension;
    the noise is a stateless per-group expression (no shuffle beyond the
    count), so the mechanism costs the same as the query it protects."""
    t = register(spark, sf_dir, ("customer",))
    cnts = t["customer"].groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("true_count")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dp1:"), F.col("c_nationkey").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(_POW60)
    )
    eps = F.lit(float(_V04_EPS))
    noise = (
        -(F.lit(1.0) / eps)
        * F.signum(u - F.lit(0.5))
        * F.log(F.greatest(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)), F.lit(1e-15)))
    )
    return (
        cnts.select(
            "c_nationkey",
            "true_count",
            iround(F.col("true_count") + noise, 4).alias("noisy_count"),
            iround(F.abs(noise), 4).alias("abs_noise"),
            eps.alias("epsilon"),
        )
        .orderBy("c_nationkey")
    )


# --- m11: PNG IHDR header audit (JVM-side binary parsing) --------------------

_M11_ORACLE = """
    SELECT CAST(8 + doc_id % 9 AS BIGINT) AS width,
           CAST(8 + (doc_id * 3) % 9 AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS bit_depth,
           CAST(0 AS BIGINT) AS color_type,
           CAST(COUNT(*) AS BIGINT) AS n_images
    FROM documents
    GROUP BY 8 + doc_id % 9, 8 + (doc_id * 3) % 9
    ORDER BY width, height
"""


@query(
    "m11_png_header_audit",
    oracle=_M11_ORACLE,
    tags=("multimodal",),
)
def m11_png_header_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG IHDR header audit over the real-PNG corpus: parse width,
    height, bit depth, and color type straight out of the binary column
    with JVM built-ins (substring → hex → conv — fixed IHDR offsets, no
    Python and no codec in the loop) and histogram the corpus geometry.
    The oracle recomputes the expected histogram from the fixture
    formula, so any byte-level header corruption in the encode path
    hash-mismatches.

    Scale: metadata validation of a 100 TB image landing must NOT decode
    — this plan reads 26 bytes per blob inside whole-stage codegen, one
    partial-aggregated histogram, output bounded by the geometry grid
    (9×9 cells). The decode-path audits (m07/m10) complement it."""
    from dibimbing_case_study_etl_spark.operators.multimodal import synth_png_table

    t = register(spark, sf_dir, ("documents",))
    imgs = synth_png_table(t["documents"], "doc_id", "text")

    def be_int(pos: int, nbytes: int) -> F.Column:
        return F.conv(F.hex(F.expr(f"substring(content, {pos}, {nbytes})")), 16, 10).cast(
            "bigint"
        )

    return (
        imgs.select(
            be_int(17, 4).alias("width"),
            be_int(21, 4).alias("height"),
            be_int(25, 1).alias("bit_depth"),
            be_int(26, 1).alias("color_type"),
        )
        .groupBy("width", "height", "bit_depth", "color_type")
        .agg(F.count("*").cast("bigint").alias("n_images"))
        .orderBy("width", "height")
    )


# --- q82: recursive-CTE transitive closure (BOM explosion shape) -------------

_Q82_SPARK_SQL = """
    WITH RECURSIVE anc AS (
      SELECT p_partkey AS start, CAST(p_partkey AS BIGINT) AS node,
             0 AS depth
      FROM part
      UNION ALL
      SELECT start, node div 8 AS node, depth + 1 AS depth
      FROM anc WHERE node > 0
    )
    SELECT CAST(depth AS INT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_paths,
           CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes
    FROM anc GROUP BY depth ORDER BY depth
"""

_Q82_ORACLE = """
    WITH RECURSIVE anc AS (
      SELECT p_partkey AS start, CAST(p_partkey AS BIGINT) AS node,
             0 AS depth
      FROM part
      UNION ALL
      SELECT start, node // 8 AS node, depth + 1 AS depth
      FROM anc WHERE node > 0
    )
    SELECT CAST(depth AS INT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_paths,
           CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes
    FROM anc GROUP BY depth ORDER BY depth
"""


@query(
    "q82_recursive_part_closure",
    oracle=_Q82_ORACLE,
    tags=("relational", "sql", "recursive"),
)
def q82_recursive_part_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure by recursive CTE (Spark 4's WITH RECURSIVE —
    the BOM-explosion / org-hierarchy shape): every part climbs its
    synthetic containment chain parent(p) = p div 8 to the root, and the
    census reports paths and distinct ancestors per depth. Exercises the
    one relational surface the engine gained in Spark 4 that iterative
    self-joins used to emulate (g03 does the bounded-depth version by
    hand; this one runs to convergence).

    Scale: each recursion level is one distributed self-map (no driver
    loop — the UnionLoop operator re-feeds the previous level); depth is
    logarithmic in the key domain (≤8 levels at any SF), and each level
    shrinks 8×, so total work is ~1.14 scans. The per-depth census
    aggregates with map-side combine."""
    t = register(spark, sf_dir, ("part",))
    t["part"].createOrReplaceTempView("part")
    # the closure materializes ~1.14×|part| rows across levels; the default
    # recursion guardrail (1M rows) trips at sf≥1 even though each level
    # terminates — raise the guardrail only while THIS plan materializes,
    # restoring the session default so later recursive queries keep their
    # row backstop (the level limit stays as the non-termination backstop)
    prev = spark.conf.get("spark.sql.cteRecursionRowLimit", None)
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(2_000_000_000))
    try:
        # the census output is ≤8 rows; eager checkpoint pins the result so
        # the conf can be restored before the builder returns
        return spark.sql(_Q82_SPARK_SQL).localCheckpoint(eager=True)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.cteRecursionRowLimit")
        else:
            spark.conf.set("spark.sql.cteRecursionRowLimit", prev)


# --- r08: inverted-index capacity planning stats -----------------------------

_R08_ORACLE = """
    WITH exploded AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), ' +')) AS tok
      FROM documents
    ),
    occ AS (SELECT DISTINCT doc_id, tok FROM exploded),
    df AS (SELECT tok, COUNT(*) AS df FROM occ GROUP BY tok),
    bucketed AS (
      SELECT tok, df, CAST(FLOOR(ln(CAST(df AS DOUBLE)) / ln(2.0)) AS INT) AS df_bucket
      FROM df
    ),
    tot AS (SELECT CAST(SUM(df) AS BIGINT) AS all_postings FROM bucketed)
    SELECT df_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(df) AS BIGINT) AS n_postings,
           CAST(SUM(length(tok) + 8) + 4 * SUM(df) AS BIGINT) AS est_bytes,
           (CAST(round_even(CAST(SUM(df) AS DOUBLE) / MAX(tot.all_postings) * 1000000, 0)
             AS BIGINT) / 1000000.0) AS postings_share
    FROM bucketed CROSS JOIN tot
    GROUP BY df_bucket ORDER BY df_bucket
"""


@query(
    "r08_index_capacity_stats",
    oracle=_R08_ORACLE,
    tags=("llm", "retrieval"),
)
def r08_index_capacity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index capacity planning: per log2(document-frequency)
    bucket, the term count, posting count, postings share, and a fixed
    -format size estimate (dictionary entry = term bytes + 8, posting =
    4 bytes) — the sizing sheet read before building a search index over
    the corpus (r01/r06 are the queries that index would serve).

    Scale: one corpus explode deduplicated per (doc, term) — document
    frequency, not term frequency, so the first shuffle carries distinct
    pairs; the per-term df table then aggregates into ≤~20 log2 buckets
    with map-side combine. No top-k, no window, output bounded by the
    bucket range."""
    from dibimbing_case_study_etl_spark.functions.text import tokens

    t = register(spark, sf_dir, ("documents",))
    occ = (
        t["documents"]
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    df = occ.groupBy("tok").agg(F.count("*").alias("df"))
    bucketed = df.select(
        "tok",
        "df",
        F.floor(F.log(F.col("df").cast("double")) / F.log(F.lit(2.0)))
        .cast("int")
        .alias("df_bucket"),
        # feeds the postings total AND the bucket roll-up — materialize the
        # vocab-sized (sublinear, Heaps) df table so the corpus explode +
        # (doc,term) distinct run exactly once
    ).localCheckpoint(eager=True)
    tot = F.broadcast(bucketed.agg(F.sum("df").cast("bigint").alias("all_postings")))
    return (
        bucketed.crossJoin(tot)
        .groupBy("df_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.sum("df").cast("bigint").alias("n_postings"),
            (F.sum(F.length("tok") + 8) + 4 * F.sum("df"))
            .cast("bigint")
            .alias("est_bytes"),
            (
                F.call_function(
                    "rint",
                    F.sum("df").cast("double")
                    / F.max("all_postings")
                    * F.lit(1000000.0),
                ).cast("bigint")
                / F.lit(1000000.0)
            ).alias("postings_share"),
        )
        .orderBy("df_bucket")
    )


# --- u10: small-file compaction planner --------------------------------------

_U10_TARGET = 1 << 20  # 1 MiB target file

_U10_ORACLE = f"""
    WITH per_file AS (
      SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS INT) AS hr,
             COUNT(*) AS n_rows,
             CAST(SUM({_U09_BYTES_SQL}) AS BIGINT) AS bytes
      FROM events GROUP BY CAST(ts AS DATE), CAST(hour(ts) AS INT)
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_files_now,
           CAST(SUM(bytes) AS BIGINT) AS est_bytes,
           CAST(GREATEST(CEIL(CAST(SUM(bytes) AS DOUBLE) / {_U10_TARGET}), 1) AS BIGINT)
             AS planned_files,
           {sql_iround(
               f"1.0 - CAST(GREATEST(CEIL(CAST(SUM(bytes) AS DOUBLE) / {_U10_TARGET}), 1)"
               " AS DOUBLE) / COUNT(*)", 4)} AS file_reduction
    FROM per_file GROUP BY day ORDER BY day
"""


@query(
    "u10_compaction_planner",
    oracle=_U10_ORACLE,
    tags=("warehouse", "ops"),
)
def u10_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: model an hourly streaming landing
    (one file per day×hour), then plan per-day compaction to 1 MiB
    target files — current file count, partition bytes, planned file
    count, and the reduction ratio. The planning half of
    `operators/maintenance.compact_partitions`: at 100 TB you budget the
    rewrite BEFORE launching it, from exactly this table.

    Scale: one partial-aggregated pass keyed by (day, hour) — the
    landing-file grain — then a calendar-bounded roll-up to days. No
    data movement beyond the two bounded aggregations."""
    t = register(spark, sf_dir, ("events",))
    per_file = (
        t["events"]
        .groupBy(
            F.to_date("ts").alias("day"), F.hour("ts").cast("int").alias("hr")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.lit(33) + F.length("event_type") + F.length("props"))
            .cast("bigint")
            .alias("bytes"),
        )
    )
    planned = F.greatest(
        F.ceil(F.sum("bytes").cast("double") / F.lit(float(_U10_TARGET))), F.lit(1)
    )
    return (
        per_file.groupBy(F.col("day").cast("timestamp").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("n_files_now"),
            F.sum("bytes").cast("bigint").alias("est_bytes"),
            planned.cast("bigint").alias("planned_files"),
            iround(
                F.lit(1.0) - planned.cast("double") / F.count("*"), 4
            ).alias("file_reduction"),
        )
        .orderBy("day")
    )


# --- v05: k-anonymity generalization ladder ----------------------------------

_V05_WIDTHS = (250, 500, 1000, 2500, 5000)
_V05_K = 5

_V05_ORACLE = f"""
    WITH w AS (SELECT UNNEST([{", ".join(str(x) for x in _V05_WIDTHS)}]) AS width),
    cls AS (
      SELECT w.width, c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / w.width) AS BIGINT) AS bucket,
             COUNT(*) AS cnt
      FROM customer CROSS JOIN w
      GROUP BY w.width, c_nationkey, c_mktsegment, CAST(FLOOR(c_acctbal / w.width) AS BIGINT)
    )
    SELECT CAST(width AS INT) AS width,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(cnt) AS BIGINT) AS min_class_size,
           CAST(COALESCE(SUM(CASE WHEN cnt < {_V05_K} THEN cnt END), 0) AS BIGINT)
             AS n_records_below_k,
           {sql_iround(
               f"CAST(COALESCE(SUM(CASE WHEN cnt < {_V05_K} THEN cnt END), 0)"
               " AS DOUBLE) / SUM(cnt)", 6)} AS at_risk_share,
           CAST(CASE WHEN MIN(cnt) >= {_V05_K} THEN 1 ELSE 0 END AS INT) AS k_ok
    FROM cls GROUP BY width ORDER BY width
"""


@query(
    "v05_generalization_ladder",
    oracle=_V05_ORACLE,
    tags=("llm", "privacy"),
)
def v05_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder (the Incognito move): coarsen
    the balance quasi-identifier through widths {250…5000} and report,
    per rung, the class count, the minimum class size, and the records
    still below k=5 — the curve a privacy engineer walks DOWN to find
    the least-general release that satisfies the policy.

    Scale: the width dimension explodes 5× BEFORE one partial-aggregated
    groupBy keyed by (width, QI) — map-side combine collapses each task
    to the bounded class table (width × 25 × 5 × buckets); the per-rung
    roll-up is 5 rows. One fact scan total."""
    t = register(spark, sf_dir, ("customer",))
    cls = (
        t["customer"]
        .select(
            "c_nationkey",
            "c_mktsegment",
            "c_acctbal",
            F.explode(F.array(*[F.lit(x) for x in _V05_WIDTHS])).alias("width"),
        )
        .groupBy(
            "width",
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.col("width")).cast("bigint").alias("bucket"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    below = F.coalesce(F.sum(F.when(F.col("cnt") < _V05_K, F.col("cnt"))), F.lit(0))
    return (
        cls.groupBy(F.col("width").cast("int").alias("width"))
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.min("cnt").cast("bigint").alias("min_class_size"),
            below.cast("bigint").alias("n_records_below_k"),
            iround(below.cast("double") / F.sum("cnt"), 6).alias("at_risk_share"),
            F.when(F.min("cnt") >= _V05_K, 1).otherwise(0).cast("int").alias("k_ok"),
        )
        .orderBy("width")
    )


# --- q83: spatial neighbor join (grid-bucketed distance pairs) ---------------

_Q83_D = "0.01"  # neighbor radius AND grid cell width
_POW26 = float(1 << 26)

_Q83_ORACLE = f"""
    WITH pts AS (
      SELECT c_custkey AS id, c_nationkey AS nat,
             (CAST(('0x' || substr(md5('lat:' || CAST(c_custkey AS VARCHAR)), 1, 14))
               AS BIGINT) % {1 << 26}) / {_POW26!r} AS lat,
             (CAST(('0x' || substr(md5('lon:' || CAST(c_custkey AS VARCHAR)), 1, 14))
               AS BIGINT) % {1 << 26}) / {_POW26!r} AS lon
      FROM customer
    ),
    cells AS (
      SELECT *, CAST(FLOOR(lat / CAST({_Q83_D} AS DOUBLE)) AS BIGINT) AS cx,
                CAST(FLOOR(lon / CAST({_Q83_D} AS DOUBLE)) AS BIGINT) AS cy
      FROM pts
    ),
    build AS (
      SELECT cells.*, cx + dx.dx AS bx, cy + dy.dy AS by
      FROM cells
      CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS dx) dx
      CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS dy) dy
    ),
    pairs AS (
      SELECT a.nat AS nat_a, b.nat AS nat_b,
             sqrt((a.lat - b.lat) * (a.lat - b.lat)
                  + (a.lon - b.lon) * (a.lon - b.lon)) AS dist
      FROM cells a JOIN build b ON a.cx = b.bx AND a.cy = b.by AND a.id < b.id
      WHERE (a.lat - b.lat) * (a.lat - b.lat) + (a.lon - b.lon) * (a.lon - b.lon)
            <= CAST({_Q83_D} AS DOUBLE) * CAST({_Q83_D} AS DOUBLE)
    )
    SELECT LEAST(nat_a, nat_b) AS nation_lo, GREATEST(nat_a, nat_b) AS nation_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           (CAST(SUM(CAST(round_even(dist * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / COUNT(*)) AS mean_dist
    FROM pairs GROUP BY LEAST(nat_a, nat_b), GREATEST(nat_a, nat_b)
    ORDER BY nation_lo, nation_hi
"""


@query(
    "q83_spatial_neighbor_join",
    oracle=_Q83_ORACLE,
    tags=("relational", "spatial"),
)
def q83_spatial_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial neighbor join: customers get deterministic uniform
    (lat, lon) positions (md5-derived), and the query finds all pairs
    within radius d = grid width via the canonical distributed spatial
    pattern — bucket points into a d×d grid, explode the build side into
    its 3×3 neighborhood, equi-join on cell id, verify exact distance.
    Each qualifying pair matches in EXACTLY one (probe-cell, offset)
    combination, so no distinct is needed. Reports per-nation-pair
    counts and scaled-int mean distance.

    Scale: the join is a plain shuffle equi-join keyed by cell id — the
    candidate set is |pairs within ~3d|, never n²; at 100 TB the same
    plan holds with a coarser first-level partition (geohash prefix) on
    top. The 9× build explode happens map-side before the exchange."""
    t = register(spark, sf_dir, ("customer",))

    def coord(prefix: str) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(prefix), F.col("c_custkey").cast("string"))),
                    1,
                    14,
                ),
                16,
                10,
            ).cast("long")
            % F.lit(1 << 26)
        ) / F.lit(_POW26)

    d = F.lit(float(_Q83_D))
    cells = t["customer"].select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("nat"),
        coord("lat:").alias("lat"),
        coord("lon:").alias("lon"),
    ).select(
        "*",
        F.floor(F.col("lat") / d).cast("bigint").alias("cx"),
        F.floor(F.col("lon") / d).cast("bigint").alias("cy"),
    )
    build = cells.select(
        F.col("id").alias("bid"),
        F.col("nat").alias("bnat"),
        F.col("lat").alias("blat"),
        F.col("lon").alias("blon"),
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dx"),
        "cx",
        "cy",
    ).select(
        "bid",
        "bnat",
        "blat",
        "blon",
        (F.col("cx") + F.col("dx")).alias("bx"),
        F.explode(F.array(F.col("cy") - 1, F.col("cy"), F.col("cy") + 1)).alias("by"),
    )
    d2 = (F.col("lat") - F.col("blat")) * (F.col("lat") - F.col("blat")) + (
        F.col("lon") - F.col("blon")
    ) * (F.col("lon") - F.col("blon"))
    pairs = (
        cells.join(
            build,
            (F.col("cx") == F.col("bx"))
            & (F.col("cy") == F.col("by"))
            & (F.col("id") < F.col("bid")),
        )
        .filter(d2 <= d * d)
        .select(
            F.least("nat", "bnat").alias("nation_lo"),
            F.greatest("nat", "bnat").alias("nation_hi"),
            F.sqrt(d2).alias("dist"),
        )
    )
    return (
        pairs.groupBy("nation_lo", "nation_hi")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            (
                F.sum(F.call_function("rint", F.col("dist") * F.lit(1000000.0)).cast("bigint"))
                .cast("double")
                / F.lit(1000000.0)
                / F.count("*")
            ).alias("mean_dist"),
        )
        .orderBy("nation_lo", "nation_hi")
    )


# --- f06: hierarchical forecast reconciliation --------------------------------

_F06_LAGS = (1, 2, 3, 12, 13, 14, 15)
_F06_EVAL_T = 24  # first evaluated month index

# momentum-adjusted seasonal forecast: fc(t) = y(t-12) · (y(t-1)+y(t-2)+y(t-3))
#                                            / (y(t-13)+y(t-14)+y(t-15))
# — deliberately NONLINEAR in the series, so independently-forecast levels
# do NOT automatically add up (a plain seasonal naive would make the
# coherence gap identically zero — the vacuous-audit trap).

_F06_LAG_SUMS = """
             CAST(COALESCE(SUM(CASE WHEN cur.t - hist.t = 12 THEN hist.yd END), 0) AS BIGINT) AS y12,
             CAST(COALESCE(SUM(CASE WHEN cur.t - hist.t IN (1, 2, 3) THEN hist.yd END), 0) AS BIGINT) AS m3,
             CAST(COALESCE(SUM(CASE WHEN cur.t - hist.t IN (13, 14, 15) THEN hist.yd END), 0) AS BIGINT) AS m15,
             COUNT(*) AS n_lags
"""


def _f06_oracle() -> str:
    lags = ", ".join(str(x) for x in _F06_LAGS)
    return f"""
    WITH monthly AS (
      SELECT n.n_regionkey AS region, c.c_nationkey AS nat,
             (year(o.o_orderdate) - 1995) * 12 + month(o.o_orderdate) - 1 AS t,
             CAST(SUM(CAST(round_even(o.o_totalprice, 0) AS BIGINT)) AS BIGINT) AS yd
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_regionkey, c.c_nationkey,
               (year(o.o_orderdate) - 1995) * 12 + month(o.o_orderdate) - 1
    ),
    rmonthly AS (
      SELECT region, t, CAST(SUM(yd) AS BIGINT) AS yd
      FROM monthly GROUP BY region, t
    ),
    nfc AS (
      SELECT cur.region, cur.nat, cur.t, cur.yd,
             {_F06_LAG_SUMS}
      FROM monthly cur
      JOIN monthly hist ON hist.nat = cur.nat AND cur.t - hist.t IN ({lags})
      WHERE cur.t >= {_F06_EVAL_T}
      GROUP BY cur.region, cur.nat, cur.t, cur.yd
      HAVING COUNT(*) = {len(_F06_LAGS)} AND
             COALESCE(SUM(CASE WHEN cur.t - hist.t IN (13, 14, 15) THEN hist.yd END), 0) > 0
    ),
    nfc_val AS (
      SELECT region, nat, t, yd,
             CAST(round_even(y12 * (CAST(m3 AS DOUBLE) / m15) * 100.0, 0) AS BIGINT) AS fc_i2
      FROM nfc
    ),
    bottomup AS (
      SELECT region, t, CAST(SUM(fc_i2) AS BIGINT) AS bu_i2
      FROM nfc_val GROUP BY region, t
    ),
    rfc AS (
      SELECT cur.region, cur.t, cur.yd,
             {_F06_LAG_SUMS}
      FROM rmonthly cur
      JOIN rmonthly hist ON hist.region = cur.region AND cur.t - hist.t IN ({lags})
      WHERE cur.t >= {_F06_EVAL_T}
      GROUP BY cur.region, cur.t, cur.yd
      HAVING COUNT(*) = {len(_F06_LAGS)} AND
             COALESCE(SUM(CASE WHEN cur.t - hist.t IN (13, 14, 15) THEN hist.yd END), 0) > 0
    ),
    rfc_val AS (
      SELECT region, t, yd,
             CAST(round_even(y12 * (CAST(m3 AS DOUBLE) / m15) * 100.0, 0) AS BIGINT) AS direct_i2
      FROM rfc
    ),
    joined AS (
      SELECT r.region, r.t, r.yd, r.direct_i2, b.bu_i2
      FROM rfc_val r JOIN bottomup b ON b.region = r.region AND b.t = r.t
    )
    SELECT region,
           CAST(COUNT(*) AS BIGINT) AS n_eval_months,
           {sql_iround("CAST(SUM(abs(yd * 100 - direct_i2)) AS DOUBLE) / 100.0 / SUM(yd)", 6)}
             AS direct_wape,
           {sql_iround("CAST(SUM(abs(yd * 100 - bu_i2)) AS DOUBLE) / 100.0 / SUM(yd)", 6)}
             AS bottomup_wape,
           {sql_iround("CAST(SUM(abs(direct_i2 - bu_i2)) AS DOUBLE) / 100.0 / SUM(yd)", 6)}
             AS coherence_gap_share
    FROM joined GROUP BY region ORDER BY region
"""


@query(
    "f06_forecast_reconciliation",
    oracle=_f06_oracle(),
    tags=("forecast",),
)
def f06_forecast_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical forecast reconciliation audit: nations roll up to
    regions; both levels run the same momentum-adjusted seasonal
    forecast (nonlinear, so independent forecasts do NOT add up), and
    the report compares direct region forecasts against bottom-up sums
    — WAPE for each strategy plus the coherence gap a reconciliation
    step (MinT/OLS) would close. The hierarchy-consistency question
    every multi-level demand pipeline must answer.

    Scale: one fact pass builds the nation×month table (exact
    whole-dollar BIGINTs, checkpointed); region series, both forecast
    levels, and the WAPE roll-ups all run on calendar-bounded tables
    with broadcast self-joins. Forecast values round to scaled BIGINTs
    before every comparison sum."""
    t = register(spark, sf_dir, ("orders", "customer", "nation"))
    monthly = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["nation"]),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(
            F.col("n_regionkey").alias("region"),
            F.col("c_nationkey").alias("nat"),
            ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1).alias("t"),
        )
        .agg(
            F.sum(F.call_function("rint", F.col("o_totalprice")).cast("bigint"))
            .cast("bigint")
            .alias("yd")
        )
        .localCheckpoint(eager=True)
    )
    rmonthly = (
        monthly.groupBy("region", "t")
        .agg(F.sum("yd").cast("bigint").alias("yd"))
        .localCheckpoint(eager=True)
    )

    def lagged_fc(series: DataFrame, keys: list[str]) -> DataFrame:
        hist = series.select(
            *[F.col(k).alias("h_" + k) for k in keys],
            F.col("t").alias("ht"),
            F.col("yd").alias("hyd"),
        )
        cond = F.lit(True)
        for k in keys:
            cond = cond & (F.col("h_" + k) == F.col(k))
        off = F.col("t") - F.col("ht")
        cur = series.filter(F.col("t") >= _F06_EVAL_T)
        grouped = (
            cur.join(F.broadcast(hist), cond & off.isin(*_F06_LAGS))
            .groupBy(*keys, "t", "yd")
            .agg(
                F.coalesce(F.sum(F.when(off == 12, F.col("hyd"))), F.lit(0))
                .cast("bigint")
                .alias("y12"),
                F.coalesce(F.sum(F.when(off.isin(1, 2, 3), F.col("hyd"))), F.lit(0))
                .cast("bigint")
                .alias("m3"),
                F.coalesce(
                    F.sum(F.when(off.isin(13, 14, 15), F.col("hyd"))), F.lit(0)
                )
                .cast("bigint")
                .alias("m15"),
                F.count("*").alias("n_lags"),
            )
            .filter((F.col("n_lags") == len(_F06_LAGS)) & (F.col("m15") > 0))
        )
        return grouped.select(
            *keys,
            "t",
            "yd",
            F.call_function(
                "rint",
                F.col("y12") * (F.col("m3").cast("double") / F.col("m15")) * F.lit(100.0),
            )
            .cast("bigint")
            .alias("fc_i2"),
        )

    nfc = lagged_fc(monthly, ["region", "nat"])
    bottomup = nfc.groupBy("region", "t").agg(
        F.sum("fc_i2").cast("bigint").alias("bu_i2")
    )
    rfc = lagged_fc(rmonthly, ["region"]).withColumnRenamed("fc_i2", "direct_i2")
    joined = rfc.join(F.broadcast(bottomup), ["region", "t"])
    return (
        joined.groupBy("region")
        .agg(
            F.count("*").cast("bigint").alias("n_eval_months"),
            iround(
                F.sum(F.abs(F.col("yd") * 100 - F.col("direct_i2"))).cast("double")
                / F.lit(100.0)
                / F.sum("yd"),
                6,
            ).alias("direct_wape"),
            iround(
                F.sum(F.abs(F.col("yd") * 100 - F.col("bu_i2"))).cast("double")
                / F.lit(100.0)
                / F.sum("yd"),
                6,
            ).alias("bottomup_wape"),
            iround(
                F.sum(F.abs(F.col("direct_i2") - F.col("bu_i2"))).cast("double")
                / F.lit(100.0)
                / F.sum("yd"),
                6,
            ).alias("coherence_gap_share"),
        )
        .orderBy("region")
    )


# --- u11: retention policy simulator ------------------------------------------

_U11_WINDOWS = (7, 14, 30)

_U11_ORACLE = f"""
    WITH base AS (
      SELECT ts, {_U09_BYTES_SQL} AS bytes FROM events
    ),
    mx AS (SELECT MAX(ts) AS max_ts FROM base),
    w AS (SELECT UNNEST([{", ".join(str(x) for x in _U11_WINDOWS)}]) AS window_days)
    SELECT CAST(w.window_days AS INT) AS window_days,
           CAST(COALESCE(SUM(CASE WHEN base.ts > mx.max_ts - INTERVAL (w.window_days) DAY
                 THEN 1 END), 0) AS BIGINT) AS rows_retained,
           CAST(COALESCE(SUM(CASE WHEN base.ts <= mx.max_ts - INTERVAL (w.window_days) DAY
                 THEN 1 END), 0) AS BIGINT) AS rows_purged,
           CAST(COALESCE(SUM(CASE WHEN base.ts > mx.max_ts - INTERVAL (w.window_days) DAY
                 THEN base.bytes END), 0) AS BIGINT) AS bytes_retained,
           {sql_iround(
               "CAST(COALESCE(SUM(CASE WHEN base.ts > mx.max_ts - INTERVAL (w.window_days) DAY"
               " THEN 1 END), 0) AS DOUBLE) / COUNT(*)", 6)} AS retained_share
    FROM base CROSS JOIN mx CROSS JOIN w
    GROUP BY w.window_days
    ORDER BY window_days
"""


@query(
    "u11_retention_policy_simulator",
    oracle=_U11_ORACLE,
    tags=("warehouse", "ops"),
)
def u11_retention_policy_simulator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-policy simulator: for candidate windows {7, 14, 30}
    days anchored at the newest event, the rows/bytes a retention job
    (`operators/maintenance.apply_retention`) would keep vs purge — the
    cost sheet a data-governance decision reads before committing to a
    policy.

    Scale: one fact pass — the policy dimension explodes 3× into a
    partial aggregation with 3 groups (map-side combine collapses each
    task to 3 rows); the max-timestamp anchor is a broadcast one-row
    aggregate."""
    t = register(spark, sf_dir, ("events",))
    base = t["events"].select(
        "ts", (F.lit(33) + F.length("event_type") + F.length("props")).alias("bytes")
    )
    mx = F.broadcast(base.agg(F.max("ts").alias("max_ts")))
    cutoff = F.col("max_ts") - F.make_dt_interval(F.col("window_days"))
    kept = F.col("ts") > cutoff
    return (
        base.crossJoin(mx)
        .select(
            "*",
            F.explode(F.array(*[F.lit(w) for w in _U11_WINDOWS])).alias("window_days"),
        )
        .groupBy(F.col("window_days").cast("int").alias("window_days"))
        .agg(
            F.coalesce(F.sum(F.when(kept, 1)), F.lit(0))
            .cast("bigint")
            .alias("rows_retained"),
            F.coalesce(F.sum(F.when(~kept, 1)), F.lit(0))
            .cast("bigint")
            .alias("rows_purged"),
            F.coalesce(F.sum(F.when(kept, F.col("bytes"))), F.lit(0))
            .cast("bigint")
            .alias("bytes_retained"),
            iround(
                F.coalesce(F.sum(F.when(kept, 1)), F.lit(0)).cast("double")
                / F.count("*"),
                6,
            ).alias("retained_share"),
        )
        .orderBy("window_days")
    )


# --- t46: dedup survivorship report -------------------------------------------

_T46_ORACLE = f"""
    WITH docs AS (
      SELECT doc_id, source, text,
             {_T45_TOKENS_SQL} AS tok
      FROM documents
    ),
    pre AS (
      SELECT source, COUNT(*) AS n_docs_pre,
             CAST(SUM(tok) AS BIGINT) AS tokens_pre
      FROM docs GROUP BY source
    ),
    keepers AS (
      SELECT arg_min(source, doc_id) AS keeper_source,
             MIN(tok) AS tok
      FROM docs GROUP BY text
    ),
    post AS (
      SELECT keeper_source AS source, COUNT(*) AS n_docs_post,
             CAST(SUM(tok) AS BIGINT) AS tokens_post
      FROM keepers GROUP BY keeper_source
    )
    SELECT pre.source,
           CAST(pre.n_docs_pre AS BIGINT) AS n_docs_pre,
           CAST(COALESCE(post.n_docs_post, 0) AS BIGINT) AS n_docs_post,
           pre.tokens_pre,
           CAST(COALESCE(post.tokens_post, 0) AS BIGINT) AS tokens_post,
           {sql_iround(
               "1.0 - CAST(COALESCE(post.n_docs_post, 0) AS DOUBLE) / pre.n_docs_pre", 4)}
             AS removed_share
    FROM pre LEFT JOIN post ON post.source = pre.source
    ORDER BY pre.source
"""


@query(
    "t46_dedup_survivorship_report",
    oracle=_T46_ORACLE,
    tags=("llm", "dedup", "text"),
)
def t46_dedup_survivorship_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship report: per ingest source, the docs/tokens
    BEFORE exact dedup vs AFTER keeper selection (lowest doc_id wins,
    credited to ITS source — cross-source duplicates shift mass between
    sources) — the per-source impact statement published alongside a
    d01-style dedup run before mixture weights (t12) are recomputed.

    Scale: one narrow checkpointed projection (id, source, token count,
    text key) feeds both the per-source pre-aggregation and the
    text-keyed keeper selection — the same two shuffles d01 itself
    costs, plus a broadcast-sized source join."""
    from dibimbing_case_study_etl_spark.functions.text import token_count

    t = register(spark, sf_dir, ("documents",))
    docs = t["documents"].select(
        "doc_id",
        "source",
        F.col("text"),
        token_count(F.col("text")).alias("tok"),
    ).localCheckpoint(eager=True)
    pre = docs.groupBy("source").agg(
        F.count("*").alias("n_docs_pre"),
        F.sum("tok").cast("bigint").alias("tokens_pre"),
    )
    keepers = docs.groupBy("text").agg(
        F.min_by("source", "doc_id").alias("source"),
        F.min("tok").alias("tok"),
    )
    post = keepers.groupBy("source").agg(
        F.count("*").alias("n_docs_post"),
        F.sum("tok").cast("bigint").alias("tokens_post"),
    )
    return (
        pre.join(F.broadcast(post), "source", "left")
        .select(
            "source",
            F.col("n_docs_pre").cast("bigint").alias("n_docs_pre"),
            F.coalesce(F.col("n_docs_post"), F.lit(0)).cast("bigint").alias("n_docs_post"),
            "tokens_pre",
            F.coalesce(F.col("tokens_post"), F.lit(0)).cast("bigint").alias("tokens_post"),
            iround(
                F.lit(1.0)
                - F.coalesce(F.col("n_docs_post"), F.lit(0)).cast("double")
                / F.col("n_docs_pre"),
                4,
            ).alias("removed_share"),
        )
        .orderBy("source")
    )


# --- x09: A/A p-value calibration audit ---------------------------------------

# χ² critical value at α=0.05, 9 dof (literal on both engines)
_X09_CRIT = "16.918977604620448"

_X09_ORACLE = _WELCH_P_CTES + f""",
    binned AS (
      SELECT LEAST(CAST(FLOOR(p_value * 10) AS INT), 9) AS bin,
             COUNT(*) AS obs
      FROM p GROUP BY LEAST(CAST(FLOOR(p_value * 10) AS INT), 9)
    ),
    m AS (SELECT CAST(SUM(obs) AS BIGINT) AS m FROM binned),
    chi AS (
      SELECT CAST(SUM(CAST(round_even(
               (obs - m.m / 10.0) * (obs - m.m / 10.0) / (m.m / 10.0) * 1000000, 0)
               AS BIGINT)) AS BIGINT) AS chi_i6,
             MAX(m.m) AS m
      FROM binned CROSS JOIN m
    )
    SELECT m AS n_tests,
           {sql_iround("CAST(chi_i6 AS DOUBLE) / 1000000.0", 4)} AS chi2,
           CAST(9 AS INT) AS dof,
           CAST(CASE WHEN CAST(chi_i6 AS DOUBLE) / 1000000.0
                          <= CAST({_X09_CRIT} AS DOUBLE)
                THEN 1 ELSE 0 END AS INT) AS calibrated
    FROM chi
"""


@query(
    "x09_aa_pvalue_calibration",
    oracle=_X09_ORACLE,
    tags=("experimentation", "stats"),
)
def x09_aa_pvalue_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A calibration audit: under a null split (x06's hash arms carry
    no real effect), the 125 Welch p-values must be uniform — bin them
    into deciles and run the χ² goodness-of-fit test against uniformity
    (9 dof, α=0.05). The go/no-go an experimentation platform runs
    BEFORE trusting any A/B readout: a miscalibrated test machinery
    (wrong variance, dependent units) fails here first. On this data the
    audit lands right at the boundary (χ²≈17.5 vs crit 16.9 at sf0.01)
    — and it SHOULD: the arms split by customer while the tests analyze
    orders, so observations cluster within the randomization unit,
    exactly the variance understatement x07's design effect quantifies.

    Scale: reuses x06's one-pass Welch table (`_welch_p_frame`,
    checkpointed); the histogram and χ² run on ≤10 rows. χ² terms round
    to scaled BIGINTs before the exact sum."""
    p = _welch_p_frame(spark, sf_dir)
    binned = p.groupBy(
        F.least(F.floor(F.col("p_value") * 10).cast("int"), F.lit(9)).alias("bin")
    ).agg(F.count("*").alias("obs"))
    m = F.broadcast(binned.agg(F.sum("obs").cast("bigint").alias("m")))
    exp = F.col("m") / F.lit(10.0)
    chi = binned.crossJoin(m).agg(
        F.sum(
            F.call_function(
                "rint",
                (F.col("obs") - exp) * (F.col("obs") - exp) / exp * F.lit(1000000.0),
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("chi_i6"),
        F.max("m").alias("m"),
    )
    chi2 = F.col("chi_i6").cast("double") / F.lit(1000000.0)
    return chi.select(
        F.col("m").alias("n_tests"),
        iround(chi2, 4).alias("chi2"),
        F.lit(9).cast("int").alias("dof"),
        F.when(chi2 <= F.lit(float(_X09_CRIT)), 1).otherwise(0).cast("int").alias("calibrated"),
    )


# --- s21: filtered vector search (pre- vs post-filter recall) ------------------

_S21_K = 10
_S21_OVERFETCHES = (15, 20, 30, 50)
_S21_NQ = 10

_S21_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT vec_id, v FROM vecs WHERE vec_id < {_S21_NQ}),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id
               ) AS rnk
        FROM q JOIN vecs c ON c.vec_id <> q.vec_id AND c.label % 4 = 0
      ) WHERE rnk <= {_S21_K}
    ),
    globaltop AS (
      SELECT query_id, neighbor_id, label, grnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id
               ) AS grnk
        FROM q JOIN vecs c ON c.vec_id <> q.vec_id
      ) WHERE grnk <= {max(_S21_OVERFETCHES)}
    ),
    post AS (
      SELECT of.overfetch, g.query_id, g.neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY of.overfetch, g.query_id ORDER BY g.grnk) AS frnk
      FROM globaltop g
      CROSS JOIN (SELECT UNNEST([{", ".join(str(x) for x in _S21_OVERFETCHES)}])
                  AS overfetch) of
      WHERE g.grnk <= of.overfetch AND g.label % 4 = 0
    ),
    hits AS (
      SELECT of.overfetch, t.query_id,
             COUNT(p2.neighbor_id) AS n_hits
      FROM (SELECT UNNEST([{", ".join(str(x) for x in _S21_OVERFETCHES)}])
            AS overfetch) of
      CROSS JOIN truth t
      LEFT JOIN (SELECT * FROM post WHERE frnk <= {_S21_K}) p2
        ON p2.overfetch = of.overfetch AND p2.query_id = t.query_id
           AND p2.neighbor_id = t.neighbor_id
      GROUP BY of.overfetch, t.query_id
    )
    SELECT CAST(overfetch AS INT) AS overfetch,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(n_hits) AS BIGINT) AS n_hits,
           {sql_iround(f"CAST(SUM(n_hits) AS DOUBLE) / (COUNT(*) * {_S21_K})", 4)}
             AS mean_recall_at_k
    FROM hits GROUP BY overfetch ORDER BY overfetch
"""


@query(
    "s21_filtered_ann_recall",
    oracle=_S21_ORACLE,
    tags=("llm", "similarity", "serving"),
)
def s21_filtered_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search audit — the serving question every vector
    store fights over: a metadata predicate (label ≡ 0 mod 4, ~25%
    selectivity) can run PRE-filter (restrict the corpus, then exact
    top-k — the ground truth) or POST-filter (global top-N overfetch,
    then filter, then take k). Sweeping the overfetch N ∈ {15…50}
    produces the recall curve that decides the overfetch factor — the
    small-N rungs lose real neighbors (recall < 1), the large-N rung
    converges, so the audit discriminates by construction.

    Scale: both exact passes broadcast the 10-vector query side against
    one corpus scan each (`operators/similarity.cosine_topk` shape,
    WindowGroupLimit pushdown); the overfetch sweep re-ranks the ONE
    checkpointed global top-50 per setting — 4 settings × ≤500 rows.
    The predicate pushes into the pre-filter scan."""
    from dibimbing_case_study_etl_spark.operators.similarity import cosine_topk

    t = register(spark, sf_dir, ("embeddings",))
    vecs = t["embeddings"]
    q = vecs.filter(F.col("vec_id") < _S21_NQ).select("vec_id", "embedding")
    truth = cosine_topk(
        q, vecs.filter(F.col("label") % 4 == 0), k=_S21_K
    ).select("query_id", "neighbor_id").localCheckpoint(eager=True)
    over = cosine_topk(q, vecs, k=max(_S21_OVERFETCHES)).select(
        "query_id", "neighbor_id", "rank"
    )
    labels = vecs.select(F.col("vec_id").alias("neighbor_id"), "label")
    globaltop = (
        F.broadcast(over)
        .join(labels, "neighbor_id")
        .localCheckpoint(eager=True)  # one corpus label join, 4 consumers
    )
    post = (
        globaltop.select(
            "*",
            F.explode(
                F.array(*[F.lit(x) for x in _S21_OVERFETCHES])
            ).alias("overfetch"),
        )
        .filter((F.col("rank") <= F.col("overfetch")) & (F.col("label") % 4 == 0))
        .select(
            "overfetch",
            "query_id",
            "neighbor_id",
            F.row_number()
            .over(W.partitionBy("overfetch", "query_id").orderBy("rank"))
            .alias("frnk"),
        )
    )
    hits = (
        post.filter(F.col("frnk") <= _S21_K)
        .join(truth, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("overfetch", "query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    # a (overfetch, query) pair with ZERO hits drops out of `hits` — re-seed
    # the full grid so empty recalls count as 0, not as missing rows
    grid = (
        truth.select("query_id")
        .distinct()
        .crossJoin(
            truth.sparkSession.createDataFrame(
                [(x,) for x in _S21_OVERFETCHES], "overfetch int"
            )
        )
    )
    full = grid.join(hits, ["overfetch", "query_id"], "left").fillna(
        {"n_hits": 0}
    )
    return (
        full.groupBy(F.col("overfetch").cast("int").alias("overfetch"))
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.sum("n_hits").cast("bigint").alias("n_hits"),
            iround(
                F.sum("n_hits").cast("double")
                / (F.count("*") * F.lit(float(_S21_K))),
                4,
            ).alias("mean_recall_at_k"),
        )
        .orderBy("overfetch")
    )


# --- v06: t-closeness audit ----------------------------------------------------

_V06_T = "0.25"

_V06_ORACLE = f"""
    WITH cell AS (
      SELECT c_nationkey, {_BAL_BUCKET_SQL} AS bal_bucket, c_mktsegment,
             COUNT(*) AS scnt
      FROM customer
      GROUP BY c_nationkey, {_BAL_BUCKET_SQL}, c_mktsegment
    ),
    cls AS (
      SELECT c_nationkey, bal_bucket, CAST(SUM(scnt) AS BIGINT) AS n
      FROM cell GROUP BY c_nationkey, bal_bucket
    ),
    gdist AS (
      SELECT c_mktsegment, CAST(SUM(scnt) AS BIGINT) AS g,
             (SELECT CAST(SUM(scnt) AS BIGINT) FROM cell) AS gt
      FROM cell GROUP BY c_mktsegment
    ),
    tv AS (
      SELECT cls.c_nationkey, cls.bal_bucket, cls.n,
             CAST(SUM(CAST(round_even(
               abs(CAST(COALESCE(cell.scnt, 0) AS DOUBLE) / cls.n
                   - CAST(gdist.g AS DOUBLE) / gdist.gt) * 1000000000, 0)
               AS BIGINT)) AS BIGINT) AS tv_i9
      FROM cls
      CROSS JOIN gdist
      LEFT JOIN cell ON cell.c_nationkey = cls.c_nationkey
                    AND cell.bal_bucket = cls.bal_bucket
                    AND cell.c_mktsegment = gdist.c_mktsegment
      GROUP BY cls.c_nationkey, cls.bal_bucket, cls.n
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(COALESCE(SUM(CASE WHEN CAST(tv_i9 AS DOUBLE) / 2000000000.0
                    > CAST({_V06_T} AS DOUBLE) THEN 1 END), 0) AS BIGINT)
             AS n_violations,
           CAST(COALESCE(SUM(CASE WHEN CAST(tv_i9 AS DOUBLE) / 2000000000.0
                    > CAST({_V06_T} AS DOUBLE) THEN n END), 0) AS BIGINT)
             AS n_records_exposed,
           {sql_iround("CAST(MAX(tv_i9) AS DOUBLE) / 2000000000.0", 6)} AS max_distance,
           {sql_iround("CAST(SUM(tv_i9 * n) AS DOUBLE) / 2000000000.0 / SUM(n)", 6)}
             AS mean_distance_weighted
    FROM tv
"""


@query(
    "v06_t_closeness_audit",
    oracle=_V06_ORACLE,
    tags=("llm", "privacy"),
)
def v06_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al., completing the k-anonymity /
    l-diversity / t-closeness trio): per QI class, the total-variation
    distance between the class's sensitive-attribute (market segment)
    distribution and the global one; classes farther than t = 0.25
    leak attribute skew even when k and l pass. Reports violation
    counts, exposed records, and the max / record-weighted-mean
    distance.

    Scale: the same one-fact-pass (QI, sensitive) cell table as v02
    (bounded by QI×sensitive cardinality); the distance computation is a
    cell×global-segment grid join on that bounded table, per-term
    scaled-BIGINT rounding before the exact sums. The global sensitive
    distribution is a 5-row broadcast."""
    t = register(spark, sf_dir, ("customer",))
    cell = (
        t["customer"]
        .groupBy("c_nationkey", _bal_bucket().alias("bal_bucket"), "c_mktsegment")
        .agg(F.count("*").alias("scnt"))
        .localCheckpoint(eager=True)  # feeds cls, glob, and the TV grid
    )
    cls = cell.groupBy("c_nationkey", "bal_bucket").agg(
        F.sum("scnt").cast("bigint").alias("n")
    )
    gt = cell.agg(F.sum("scnt").cast("bigint").alias("gt"))
    glob = F.broadcast(
        cell.groupBy("c_mktsegment")
        .agg(F.sum("scnt").cast("bigint").alias("g"))
        .crossJoin(F.broadcast(gt))
    )
    grid = cls.crossJoin(glob).join(
        cell, ["c_nationkey", "bal_bucket", "c_mktsegment"], "left"
    )
    term = F.call_function(
        "rint",
        F.abs(
            F.coalesce(F.col("scnt"), F.lit(0)).cast("double") / F.col("n")
            - F.col("g").cast("double") / F.col("gt")
        )
        * F.lit(1000000000.0),
    ).cast("bigint")
    tv = grid.groupBy("c_nationkey", "bal_bucket", "n").agg(
        F.sum(term).cast("bigint").alias("tv_i9")
    )
    dist = F.col("tv_i9").cast("double") / F.lit(2000000000.0)
    viol = F.when(dist > F.lit(float(_V06_T)), 1)
    return tv.agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.coalesce(F.sum(viol), F.lit(0)).cast("bigint").alias("n_violations"),
        F.coalesce(
            F.sum(F.when(dist > F.lit(float(_V06_T)), F.col("n"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_records_exposed"),
        iround(F.max("tv_i9").cast("double") / F.lit(2000000000.0), 6).alias(
            "max_distance"
        ),
        iround(
            F.sum(F.col("tv_i9") * F.col("n")).cast("double")
            / F.lit(2000000000.0)
            / F.sum("n"),
            6,
        ).alias("mean_distance_weighted"),
    )


# --- p04: privacy-gated release pipeline ---------------------------------------

_P04_K = 5
_P04_EPS = "0.5"

_P04_ORACLE = f"""
    WITH w AS (SELECT UNNEST([{", ".join(str(x) for x in _V05_WIDTHS)}]) AS width),
    cls AS (
      SELECT w.width, c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / w.width) AS BIGINT) AS bucket,
             COUNT(*) AS cnt
      FROM customer CROSS JOIN w
      GROUP BY w.width, c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / w.width) AS BIGINT)
    ),
    ladder AS (
      SELECT width, MIN(cnt) AS min_cnt FROM cls GROUP BY width
    ),
    chosen AS (
      SELECT COALESCE(MIN(CASE WHEN min_cnt >= {_P04_K} THEN width END),
                      {max(_V05_WIDTHS)}) AS width
      FROM ladder
    ),
    gated AS (
      SELECT cls.c_nationkey, cls.c_mktsegment, cls.bucket, cls.cnt,
             CASE WHEN cls.cnt >= {_P04_K} THEN 1 ELSE 0 END AS released
      FROM cls JOIN chosen ON cls.width = chosen.width
    ),
    noised AS (
      SELECT c_nationkey, released, cnt,
             cnt + (-(1.0 / CAST({_P04_EPS} AS DOUBLE)) * sign(u - 0.5)
               * ln(greatest(1.0 - 2.0 * abs(u - 0.5), 1e-15))) AS noisy
      FROM (
        SELECT *,
               CAST(('0x' || substr(md5('dp2:' || CAST(c_nationkey AS VARCHAR)
                 || ':' || c_mktsegment || ':' || CAST(bucket AS VARCHAR)), 1, 15))
                 AS BIGINT) / {float(2**60)!r} AS u
        FROM gated
      )
    )
    SELECT c_nationkey,
           CAST(COALESCE(SUM(released), 0) AS BIGINT) AS n_released,
           CAST(COALESCE(SUM(1 - released), 0) AS BIGINT) AS n_suppressed,
           {sql_iround("COALESCE(SUM(CASE WHEN released = 1 THEN noisy END), 0.0)", 4)}
             AS noisy_total,
           CAST({_P04_EPS} AS DOUBLE) AS epsilon
    FROM noised GROUP BY c_nationkey ORDER BY c_nationkey
"""


@query(
    "p04_private_release_pipeline",
    oracle=_P04_ORACLE,
    tags=("llm", "privacy", "pipeline"),
)
def p04_private_release_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end privacy-gated release — the pipeline composition of the
    v-family: (1) walk v05's generalization ladder and pick the LEAST
    -general balance-bucket width whose worst class reaches k=5; (2)
    suppress classes still below k at that width; (3) release the
    surviving class counts under v04's ε=0.5 Laplace mechanism. Per
    nation: released/suppressed class counts, the noisy released total,
    and the ε spent (parallel composition over disjoint classes — one ε
    for the whole release).

    Scale: ONE fact pass (the 5× width explode into a partial agg keyed
    by (width, QI)); the checkpointed bounded class table feeds the
    ladder choice, the k gate, and the noisy aggregation. The chosen
    width is a broadcast one-row join — data-dependent but never
    driver-decided."""
    t = register(spark, sf_dir, ("customer",))
    cls = (
        t["customer"]
        .select(
            "c_nationkey",
            "c_mktsegment",
            "c_acctbal",
            F.explode(F.array(*[F.lit(x) for x in _V05_WIDTHS])).alias("width"),
        )
        .groupBy(
            "width",
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.col("width")).cast("bigint").alias("bucket"),
        )
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)  # feeds ladder + gate + release
    )
    chosen = F.broadcast(
        cls.groupBy("width")
        .agg(F.min("cnt").alias("min_cnt"))
        .agg(
            F.coalesce(
                F.min(F.when(F.col("min_cnt") >= _P04_K, F.col("width"))),
                F.lit(max(_V05_WIDTHS)),
            ).alias("width")
        )
    )
    gated = cls.join(chosen, "width").select(
        "c_nationkey",
        "c_mktsegment",
        "bucket",
        "cnt",
        F.when(F.col("cnt") >= _P04_K, 1).otherwise(0).alias("released"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dp2:"),
                        F.col("c_nationkey").cast("string"),
                        F.lit(":"),
                        F.col("c_mktsegment"),
                        F.lit(":"),
                        F.col("bucket").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(_POW60)
    )
    eps = F.lit(float(_P04_EPS))
    noise = (
        -(F.lit(1.0) / eps)
        * F.signum(u - F.lit(0.5))
        * F.log(F.greatest(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)), F.lit(1e-15)))
    )
    noised = gated.withColumn("noisy", F.col("cnt") + noise)
    return (
        noised.groupBy("c_nationkey")
        .agg(
            F.coalesce(F.sum("released"), F.lit(0)).cast("bigint").alias("n_released"),
            F.coalesce(F.sum(F.lit(1) - F.col("released")), F.lit(0))
            .cast("bigint")
            .alias("n_suppressed"),
            iround(
                F.coalesce(
                    F.sum(F.when(F.col("released") == 1, F.col("noisy"))), F.lit(0.0)
                ),
                4,
            ).alias("noisy_total"),
            eps.alias("epsilon"),
        )
        .orderBy("c_nationkey")
    )


# --- q84: join-cardinality estimation audit ------------------------------------

_Q84_BUCKET = 500

_Q84_ORACLE = f"""
    WITH h AS (
      SELECT CAST(FLOOR(CAST(l_partkey AS DOUBLE) / {_Q84_BUCKET}) AS BIGINT) AS bkt,
             l_partkey, COUNT(*) AS c
      FROM lineitem GROUP BY CAST(FLOOR(CAST(l_partkey AS DOUBLE) / {_Q84_BUCKET}) AS BIGINT),
               l_partkey
    )
    SELECT bkt,
           CAST(round_even(CAST(SUM(c) AS DOUBLE) * SUM(c) / COUNT(*), 0) AS BIGINT)
             AS est_rows,
           CAST(SUM(c * c) AS BIGINT) AS actual_rows,
           {sql_iround(
               "CAST(SUM(c * c) AS DOUBLE)"
               " / CAST(round_even(CAST(SUM(c) AS DOUBLE) * SUM(c) / COUNT(*), 0)"
               " AS BIGINT)", 4)} AS q_error
    FROM h GROUP BY bkt ORDER BY bkt
"""


@query(
    "q84_join_cardinality_estimate",
    oracle=_Q84_ORACLE,
    tags=("relational", "stats", "optimizer"),
)
def q84_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit — the System-R uniformity
    formula a cost-based optimizer runs before sizing r02's market
    -basket self-join: per key-range bucket, the estimate n²/d against
    the TRUE self-join cardinality Σc² (computed by the arithmetic
    identity from the same histogram — never the quadratic join), and
    the resulting q-error. Skewed per-key counts make Σc² exceed n²/d
    by exactly 1+cv² (Cauchy–Schwarz), so the audit quantifies how much
    the optimizer's uniformity assumption underestimates hot-key joins
    — the number that predicts AQE skew-split behavior.

    Scale: one partial-aggregated per-key histogram, rolled up per
    bucket; output bounded by the key-range bucket count. The true
    cardinality costs one aggregation, not a self-join."""
    t = register(spark, sf_dir, ("lineitem",))
    h = (
        t["lineitem"]
        .groupBy(
            F.floor(F.col("l_partkey").cast("double") / F.lit(float(_Q84_BUCKET)))
            .cast("bigint")
            .alias("bkt"),
            "l_partkey",
        )
        .agg(F.count("*").alias("c"))
    )
    est = F.call_function(
        "rint", F.sum("c").cast("double") * F.sum("c") / F.count("*")
    ).cast("bigint")
    out = h.groupBy("bkt").agg(
        est.alias("est_rows"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("actual_rows"),
    )
    return out.select(
        "bkt",
        "est_rows",
        "actual_rows",
        iround(F.col("actual_rows").cast("double") / F.col("est_rows"), 4).alias(
            "q_error"
        ),
    ).orderBy("bkt")


# --- m12: PNG CRC corruption quarantine ----------------------------------------

_M12_ORACLE = """
    SELECT was_corrupted, quarantined, CAST(COUNT(*) AS BIGINT) AS n_images
    FROM (
      SELECT CAST(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END AS INT) AS was_corrupted,
             CAST(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END AS INT) AS quarantined
      FROM documents
    ) GROUP BY was_corrupted, quarantined
    ORDER BY was_corrupted, quarantined
"""


@query(
    "m12_png_crc_quarantine",
    oracle=_M12_ORACLE,
    tags=("multimodal", "quality"),
)
def m12_png_crc_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-integrity quarantine for an image landing: every 50th image
    gets one IHDR byte deterministically flipped in flight (the bitrot /
    truncated-upload case), and the validator recomputes the IHDR CRC-32
    JVM-side (crc32 over the 17 type+payload bytes vs the stored
    big-endian word — substring/conv built-ins, no decode, no Python)
    and quarantines mismatches. The output is the 2×2 confusion matrix
    against the known corruption set; the oracle asserts it is exactly
    diagonal — one false positive or missed corruption anywhere in the
    corpus flips a count and the hash.

    Scale: integrity triage of a 100 TB landing must not decode — this
    reads 21 header bytes per blob inside whole-stage codegen, one
    bounded aggregation. The quarantine predicate composes with m11's
    geometry audit on the same scan."""
    from dibimbing_case_study_etl_spark.operators.multimodal import synth_png_table

    t = register(spark, sf_dir, ("documents",))
    imgs = synth_png_table(t["documents"], "doc_id", "text")
    corrupted = F.when(
        F.col("doc_id") % 50 == 0,
        F.concat(
            F.expr("substring(content, 1, 17)"),
            F.unhex(F.lit("FF")),
            F.expr("substring(content, 19, 2147483647)"),
        ),
    ).otherwise(F.col("content"))
    blobs = imgs.select(
        (F.col("doc_id") % 50 == 0).cast("int").alias("was_corrupted"),
        corrupted.alias("blob"),
    )
    stored = F.conv(F.hex(F.expr("substring(blob, 30, 4)")), 16, 10).cast("bigint")
    computed = F.crc32(F.expr("substring(blob, 13, 17)"))
    return (
        blobs.select(
            "was_corrupted",
            (computed != stored).cast("int").alias("quarantined"),
        )
        .groupBy("was_corrupted", "quarantined")
        .agg(F.count("*").cast("bigint").alias("n_images"))
        .orderBy("was_corrupted", "quarantined")
    )


# --- q85: cumulative distinct users (first-occurrence transform) ---------------

_Q85_ORACLE = """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS day,
             COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    new_users AS (
      SELECT day, COUNT(*) AS n_new FROM first_seen GROUP BY day
    )
    SELECT d.day,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(COALESCE(n.n_new, 0) AS BIGINT) AS new_users,
           CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY d.day) AS BIGINT)
             AS cumulative_users
    FROM daily d LEFT JOIN new_users n ON n.day = d.day
    ORDER BY d.day
"""


@query(
    "q85_cumulative_distinct_users",
    bench=True,  # r7: track the first-occurrence cumulative-distinct shape
    oracle=_Q85_ORACLE,
    tags=("relational", "events"),
)
def q85_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative reach: per day, the active users (DAU) and the running
    count of distinct users EVER seen. The naive plan — COUNT(DISTINCT)
    over every growing prefix — is quadratic and un-distributable; the
    scale plan is the first-occurrence transform: one groupBy finds each
    user's first day, new-user counts roll up per day, and the cumulative
    sum runs over the CALENDAR-BOUNDED day table (where a window is
    harmless). The canonical trick behind every reach/adoption curve.

    Scale: two partial-aggregated passes over events (first-seen per
    user, DAU per day) — both shuffle bounded keys; the window orders ~30
    rows. No prefix ever re-scans history."""
    t = register(spark, sf_dir, ("events",))
    ev = t["events"].select(F.to_date("ts").alias("day"), "user_id")
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    new_users = first_seen.groupBy("day").agg(F.count("*").alias("n_new"))
    daily = ev.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    joined = daily.join(F.broadcast(new_users), "day", "left").select(
        "day", "dau", F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new")
    )
    # the cumulative window runs on the calendar-bounded day table only
    w = _gw().orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return joined.select(
        F.col("day").cast("timestamp").alias("day"),
        F.col("dau").cast("bigint").alias("dau"),
        F.col("n_new").cast("bigint").alias("new_users"),
        F.sum("n_new").over(w).cast("bigint").alias("cumulative_users"),
    ).orderBy("day")


# --- t47: held-out n-gram novelty rate -----------------------------------------

_T47_NS = (1, 2, 3)


def _t47_gram_sql(k: int) -> str:
    if k == 1:
        return "unnest(w) AS gram"
    expr = " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(k))
    return (
        f"unnest(list_transform(generate_series(1, greatest(len(w) - {k - 1}, 0)),"
        f" i -> {expr})) AS gram"
    )


_T47_ORACLE = " UNION ALL ".join(
    f"""
    SELECT CAST({k} AS INT) AS n,
           CAST(COALESCE(SUM(held_cnt), 0) AS BIGINT) AS held_occurrences,
           CAST(COALESCE(SUM(CASE WHEN train_cnt = 0 THEN held_cnt END), 0) AS BIGINT)
             AS novel_occurrences,
           CAST(COALESCE(SUM(CASE WHEN train_cnt = 0 AND held_cnt > 0 THEN 1 END), 0)
             AS BIGINT) AS novel_types,
           {sql_iround(
               "CAST(COALESCE(SUM(CASE WHEN train_cnt = 0 THEN held_cnt END), 0)"
               " AS DOUBLE) / SUM(held_cnt)", 6)} AS novelty_rate
    FROM (
      SELECT gram,
             SUM(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS train_cnt,
             SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS held_cnt
      FROM (
        SELECT doc_id, {_t47_gram_sql(k)}
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w
              FROM documents)
      ) GROUP BY gram
    )
    """
    for k in _T47_NS
) + " ORDER BY n"


@query(
    "t47_ngram_novelty_rate",
    oracle=_T47_ORACLE,
    tags=("llm", "text", "eval"),
)
def t47_ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out n-gram novelty (the memorization/novelty readout, Lee et
    al. / McCoy et al. style): with a deterministic 10% held-out split,
    the share of held-out n-gram OCCURRENCES (and distinct types) never
    seen in training, for n ∈ {1, 2, 3}. Climbing novelty with n is the
    expected signature (composition outpaces memorized vocabulary); a
    flat curve near zero means the held-out set leaks training text —
    the d09/t21 contamination finding restated as an eval metric.

    Scale: NO anti-join — one groupBy-gram pass per n carries
    conditional train/held counts, so novelty falls out of a single
    aggregation (the decontamination shape without the join); the
    summaries are one row per n. Explode fan-out is per-n, map-side
    combined."""
    from dibimbing_case_study_etl_spark.functions.text import word_ngrams

    t = register(spark, sf_dir, ("documents",))
    outs = []
    for k in _T47_NS:
        grams = t["documents"].select(
            "doc_id", F.explode(word_ngrams(F.col("text"), k)).alias("gram")
        )
        held = F.sum(F.when(F.col("doc_id") % 10 == 0, 1).otherwise(0))
        train = F.sum(F.when(F.col("doc_id") % 10 != 0, 1).otherwise(0))
        per_gram = grams.groupBy("gram").agg(
            train.alias("train_cnt"), held.alias("held_cnt")
        )
        novel_occ = F.coalesce(
            F.sum(F.when(F.col("train_cnt") == 0, F.col("held_cnt"))), F.lit(0)
        )
        outs.append(
            per_gram.agg(
                F.lit(k).cast("int").alias("n"),
                F.coalesce(F.sum("held_cnt"), F.lit(0))
                .cast("bigint")
                .alias("held_occurrences"),
                novel_occ.cast("bigint").alias("novel_occurrences"),
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("train_cnt") == 0) & (F.col("held_cnt") > 0), 1
                        )
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("novel_types"),
                iround(novel_occ.cast("double") / F.sum("held_cnt"), 6).alias(
                    "novelty_rate"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("n")


# g04 — connected components via hook + pointer-jump (O(log diameter)
# rounds). The chain graph is derived from doc_id in CLOSED FORM —
# edge (i-1, i) exists iff i % (3 + (i DIV 97) % 5) != 0 — so segment
# lengths vary 3..7 and the oracle reproduces every component label with
# a running window max over segment heads, no recursion: the generic
# distributed algorithm is checked against exact per-node ground truth.
_G04_ORACLE = """
WITH nodes AS (SELECT doc_id AS i FROM documents),
heads AS (
  SELECT i,
         CASE WHEN i = 0 OR i % (3 + (i // 97) % 5) = 0 THEN i END AS brk
  FROM nodes
),
lab AS (
  SELECT i,
         MAX(brk) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS cluster_id
  FROM heads
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(i) AS BIGINT) AS min_doc,
       CAST(MAX(i) AS BIGINT) AS max_doc
FROM lab
GROUP BY cluster_id
ORDER BY cluster_id
"""


@query(
    "g04_connected_components",
    oracle=_G04_ORACLE,
    tags=("graph", "dedup"),
)
def g04_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on a HIGH-diameter chain graph via
    :func:`~dibimbing_case_study_etl_spark.operators.dedup.
    connected_components_pointer_jump` — hook + pointer-jump doubling
    (Shiloach–Vishkin; Kiveris et al. SoCC'14), converging in
    O(log diameter) rounds where d06's plain min-label propagation needs
    O(diameter). The deployment case is revision/lineage chains (CDC
    spans, crawl re-fetch lineages) whose components are long paths, the
    topology that makes propagation's round count — and therefore its
    shuffle count — explode at 100 TB.

    The graph: doc_id chain segments of closed-form varying length
    (edge (i-1, i) iff ``i % (3 + (i DIV 97) % 5) != 0``), so the oracle
    derives exact per-node labels with one window pass and the generic
    distributed algorithm — which knows nothing of the structure — must
    reproduce them. Output is the per-component census.

    Scale: every round is two bounded shuffles over the touched subgraph
    (edge⋈label hook, label⋈label jump); the fixpoint check is a count
    on the just-materialized table. Reference parity: the reference repo
    has no graph surface; beyond-reference LLM-pipeline mandate."""
    from dibimbing_case_study_etl_spark.operators.dedup import (
        connected_components_pointer_jump,
    )

    t = register(spark, sf_dir, ("documents",))
    ids = t["documents"].select("doc_id")
    edges = (
        ids.filter(
            (F.col("doc_id") > 0)
            & (F.col("doc_id") % (F.lit(3) + F.expr("doc_id DIV 97") % 5) != 0)
        )
        .select(
            (F.col("doc_id") - 1).alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
    )
    cc = connected_components_pointer_jump(edges, nodes=ids, id_col="doc_id")
    return (
        cc.groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
        .orderBy("cluster_id")
    )
