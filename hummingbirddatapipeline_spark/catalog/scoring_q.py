"""Scoring-DSL catalog query: a full spec (interp + piecewise + W3
trend + A6 renormalization + A9 gate + categorization) over the TPC-H
tables, differentially tested because the SAME compiled expressions run
on Spark and (via spec_to_sql) on DuckDB.

The model is synthetic ("customer financial health" from order flow)
but exercises every DSL feature the 990/IPEDS models use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hummingbirddatapipeline_spark.catalog import query
from hummingbirddatapipeline_spark.functions.scalar import money_cents
from hummingbirddatapipeline_spark.operators.windows import with_prior_fields
from hummingbirddatapipeline_spark.scoring.compiler import apply_spec, spec_to_sql
from hummingbirddatapipeline_spark.scoring.spec import Domain, Indicator, ScoringSpec
from hummingbirddatapipeline_spark.tables import cpu_bound, load

_W3_NA_TREND = (
    "CASE WHEN net_assets IS NULL OR prior_net_assets IS NULL THEN NULL "
    "WHEN prior_net_assets > 0 AND net_assets > 0 THEN "
    "  POWER(net_assets / prior_net_assets, 1.0 / years_gap) - 1 "
    "WHEN prior_net_assets > 0 AND net_assets <= 0 THEN -0.30 "
    "WHEN prior_net_assets < 0 AND net_assets < prior_net_assets THEN -0.20 "
    "WHEN prior_net_assets < 0 AND net_assets > prior_net_assets THEN 0.05 "
    "WHEN net_assets <= 0 THEN -0.10 ELSE 0.0 END"
)

CUSTOMER_HEALTH_SPEC = ScoringSpec(
    name="customer_health",
    entity_cols=("entity_id", "year"),
    min_indicators=3,
    domains=(
        Domain(
            name="solvency",
            weight=0.40,
            indicators=(
                Indicator(
                    name="equity_ratio",
                    weight=0.60,
                    raw_sql="net_assets / NULLIF(total_assets, 0)",
                    healthy=0.40,
                    distress=-0.10,
                ),
                Indicator(
                    name="debt_ratio",
                    weight=0.40,
                    raw_sql="(total_assets - net_assets) / NULLIF(total_assets, 0)",
                    healthy=0.50,
                    distress=1.0,
                    invert=True,
                ),
            ),
        ),
        Domain(
            name="operating",
            weight=0.40,
            indicators=(
                Indicator(
                    name="operating_margin",
                    weight=0.70,
                    raw_sql=(
                        "CASE WHEN total_revenue <> 0 THEN "
                        "(total_revenue - total_expenses) / ABS(total_revenue) "
                        "ELSE NULL END"
                    ),
                    healthy=0.05,
                    distress=-0.20,
                ),
                Indicator(
                    name="discount_mix",
                    weight=0.30,
                    raw_sql="discount_share",
                    score_sql=(
                        "CASE WHEN {raw} IS NULL THEN NULL "
                        "WHEN {raw} < 0.02 THEN 0.6 "
                        "WHEN {raw} > 0.06 THEN 0.4 ELSE 0.0 END"
                    ),
                ),
            ),
        ),
        Domain(
            name="trend",
            weight=0.20,
            indicators=(
                Indicator(
                    name="revenue_trend",
                    weight=0.50,
                    raw_sql=(
                        "CASE WHEN total_revenue IS NULL OR prior_total_revenue IS NULL "
                        "OR prior_total_revenue = 0 THEN NULL "
                        "ELSE POWER(total_revenue / prior_total_revenue, 1.0 / years_gap) - 1 END"
                    ),
                    healthy=0.0,
                    distress=-0.15,
                ),
                Indicator(
                    name="net_asset_trend",
                    weight=0.50,
                    raw_sql=_W3_NA_TREND,
                    healthy=0.0,
                    distress=-0.10,
                ),
            ),
        ),
    ),
)

# Long source table per (customer, year), both as DataFrame ops and SQL.
_SOURCE_SQL = """
SELECT w.*, w.year - w.prior_year AS years_gap FROM (
  SELECT cy.*,
         LAG(cy.total_revenue) OVER (PARTITION BY cy.entity_id ORDER BY cy.year)
           AS prior_total_revenue,
         LAG(cy.net_assets) OVER (PARTITION BY cy.entity_id ORDER BY cy.year)
           AS prior_net_assets,
         LAG(cy.year) OVER (PARTITION BY cy.entity_id ORDER BY cy.year)
           AS prior_year
  FROM (
    SELECT b.entity_id, b.year, b.total_revenue, b.total_expenses,
           b.discount_share,
           c.c_acctbal * 100 + 0.1 * b.total_revenue AS net_assets,
           c.c_acctbal * 100 + b.total_revenue AS total_assets
    FROM (
      SELECT o.o_custkey AS entity_id,
             EXTRACT(YEAR FROM o.o_orderdate) AS year,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
               AS DOUBLE) / CAST(100 AS DOUBLE) AS total_revenue,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * (1 + l.l_tax)
               * 0.97 * 100) AS BIGINT)) AS DOUBLE) / CAST(100 AS DOUBLE)
               AS total_expenses,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * l.l_discount * 100) AS BIGINT))
               AS DOUBLE)
               / NULLIF(CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                 AS DOUBLE), 0)
               AS discount_share
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ) b
    JOIN customer c ON c.c_custkey = b.entity_id
  ) cy
) w
"""


def _source_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders", fanout=True)
    li = load(spark, sf_dir, "lineitem", fanout=True)
    base = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("entity_id"),
            F.year("o_orderdate").cast("long").alias("year"),
        )
        .agg(
            (
                F.sum(
                    money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                ).cast("double")
                / F.lit(100).cast("double")
            ).alias("total_revenue"),
            (
                F.sum(
                    money_cents(
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                        * (1 + F.col("l_tax"))
                        * 0.97
                    )
                ).cast("double")
                / F.lit(100).cast("double")
            ).alias("total_expenses"),
            (
                F.sum(
                    money_cents(F.col("l_extendedprice") * F.col("l_discount"))
                ).cast("double")
                / F.nullif(
                    F.sum(money_cents(F.col("l_extendedprice"))).cast("double"),
                    F.lit(0),
                )
            ).alias("discount_share"),
        )
    )
    cy = base.join(load(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_acctbal")
    ), F.col("c_custkey") == F.col("entity_id")).select(
        "entity_id",
        "year",
        "total_revenue",
        "total_expenses",
        "discount_share",
        (F.col("c_acctbal") * 100 + 0.1 * F.col("total_revenue")).alias("net_assets"),
        (F.col("c_acctbal") * 100 + F.col("total_revenue")).alias("total_assets"),
    )
    # cpu_bound on the window key (r16): AQE coalesced the window stage
    # feeding the compiled indicator stack to ~10 tasks.
    cy = cpu_bound(cy, "entity_id")
    return with_prior_fields(cy, "entity_id", "year", ["total_revenue", "net_assets"])


@query(
    "scoring_customer_health",
    oracle=(
        "SELECT * FROM ("
        + spec_to_sql(CUSTOMER_HEALTH_SPEC, _SOURCE_SQL)
        + ") ORDER BY entity_id, year"
    ),
)
def scoring_customer_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no final global sort: the driver hash is row-order-insensitive and
    # a rangepartitioning sort would re-execute the whole pipeline for
    # its sampling pass — pure waste for a detail export
    return apply_spec(_source_df(spark, sf_dir), CUSTOMER_HEALTH_SPEC)


# --------------------------------------------------------------------------
# The REAL 990 distress model (19 indicators, 5 domains, availability
# matrix by filing type) under the oracle gate: a filings-shaped table
# is derived from TPC-H deterministically with ONE shared SQL text
# (filings, then the prior-year window over them), and the same
# compiled spec scores it on both engines.
# --------------------------------------------------------------------------
_990_FILINGS_SQL = """
SELECT CAST(entity AS STRING) AS ein, filing_year,
  CASE WHEN entity % 20 = 0 THEN 'ez'
       WHEN entity % 20 = 1 THEN 'pf' ELSE 'standard' END AS filing_type,
  CASE WHEN entity % 13 = 0 THEN 'Y' ELSE 'N' END AS ceased_operations,
  CASE WHEN entity % 17 = 0 THEN 'YES' ELSE 'N' END AS sold_assets,
  rev AS total_revenue,
  rev * (0.90 + (entity % 5) * 0.05) AS total_expenses,
  rev * 2.5 AS total_assets,
  rev * (1.0 + (entity % 7) * 0.25) AS total_liabilities,
  rev * (2.5 - 1.0 - (entity % 7) * 0.25) AS total_net_assets,
  CASE WHEN entity % 5 = 0 THEN NULL
       ELSE rev * (0.30 - (entity % 4) * 0.12) END AS unrestricted_net_assets,
  rev * 0.10 AS cash,
  CASE WHEN entity % 11 = 0 THEN NULL ELSE rev * 0.05 END
    AS savings_temp_investments,
  rev * 0.06 AS accounts_receivable,
  rev * 0.04 AS accounts_payable,
  CASE WHEN entity % 9 = 0 THEN rev * 0.30 ELSE rev * 0.02 END
    AS deferred_revenue,
  rev * 0.15 AS secured_mortgages,
  rev * 0.05 AS unsecured_notes,
  CASE WHEN entity % 6 = 0 THEN 0.0 ELSE rev * 0.9 END
    AS land_buildings_equipment,
  rev * (0.05 + (entity % 10) * 0.09) AS program_revenue,
  rev * 0.30 AS contributions,
  rev * 0.05 AS investment_income,
  rev * 0.08 AS officer_compensation,
  rev * (0.20 + (entity % 3) * 0.25) AS other_salaries,
  rev * 0.02 AS pension_contributions,
  rev * 0.03 AS other_employee_benefits,
  rev * 0.03 AS payroll_tax,
  CASE WHEN entity % 8 = 0 THEN rev * 0.20 ELSE rev * 0.01 END
    AS fundraising_fees,
  CASE WHEN entity % 10 = 0 THEN rev * 0.50 ELSE 0.0 END
    AS payable_to_officers,
  0.0 AS current_receivables_from_officers,
  CAST(qty AS DOUBLE) AS employee_count
FROM (
  SELECT o.o_custkey AS entity,
         CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS filing_year,
         CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
           AS DOUBLE) / CAST(100 AS DOUBLE) AS rev,
         SUM(l.l_quantity) AS qty
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
) base
"""
# prior-year fields by ein: the window the indicator trends read
_990_PRIOR_SQL = """
SELECT w.*, w.filing_year - w.prior_year AS years_gap FROM (
  SELECT f.*,
    LAG(total_revenue) OVER (PARTITION BY ein ORDER BY filing_year)
      AS prior_total_revenue,
    LAG(total_net_assets) OVER (PARTITION BY ein ORDER BY filing_year)
      AS prior_total_net_assets,
    LAG(total_expenses) OVER (PARTITION BY ein ORDER BY filing_year)
      AS prior_total_expenses,
    LAG(employee_count) OVER (PARTITION BY ein ORDER BY filing_year)
      AS prior_employee_count,
    LAG(filing_year) OVER (PARTITION BY ein ORDER BY filing_year)
      AS prior_year
  FROM {filings} f
) w
"""
_990_SOURCE_SQL = _990_PRIOR_SQL.format(filings=f"({_990_FILINGS_SQL})")


def _spec_990():
    from hummingbirddatapipeline_spark.scoring.specs_990 import SPEC_990

    return SPEC_990


@query("scoring_990_model", oracle=None)
def scoring_990_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 990 spec over the TPC-H-derived filings table; oracle SQL
    is generated from the SAME spec (registered below at import)."""
    for t in ("orders", "lineitem"):
        load(spark, sf_dir, t, fanout=True).createOrReplaceTempView(t)
    # cpu_bound on the window key (r16): the window stage evaluates the
    # compiled ~19-indicator stack per row (profiled: 6.3 s of executor
    # time on 10 AQE-coalesced tasks at sf0.1).
    filings = cpu_bound(spark.sql(_990_FILINGS_SQL), "ein")
    src = spark.sql(_990_PRIOR_SQL, filings=filings)
    return apply_spec(src, _spec_990())  # unsorted: order-insensitive gate


def _register_990_oracle() -> None:
    from hummingbirddatapipeline_spark.catalog import ORACLES

    sql = spec_to_sql(_spec_990(), _990_SOURCE_SQL)
    ORACLES["scoring_990_model"] = f"SELECT * FROM ({sql}) q ORDER BY ein, filing_year"


_register_990_oracle()


# --------------------------------------------------------------------------
# The IPEDS v5 spec (28 indicators, 7 domains, subsidiary branch,
# enrollment-cliff domain adjustment) under the oracle gate. The
# canonical-dispatch and floor stages are covered by golden tests
# (tests/test_distress_ipeds.py); here the spec's full arithmetic runs
# over a synthesized canonical table shared verbatim with DuckDB.
# --------------------------------------------------------------------------
_IPEDS_SOURCE_SQL = """
SELECT w.*,
  CAST(CASE WHEN total_enrollment IS NOT NULL AND enr_chg_3yr IS NOT NULL
        AND total_enrollment < 500 AND enr_chg_3yr < -0.20
       THEN 1.0 + 0.40 * LEAST(
         GREATEST(0.0, (500 - total_enrollment) / 300.0)
         * GREATEST(0.0, (-enr_chg_3yr - 0.20) / 0.20), 1.0)
       ELSE 1.0 END AS DOUBLE) AS cliff_mult
FROM (
  SELECT g.*,
    LAG(c_revenue) OVER (PARTITION BY unitid ORDER BY year) AS prior_c_revenue,
    LAG(c_net_assets) OVER (PARTITION BY unitid ORDER BY year) AS prior_c_net_assets,
    LAG(ft_retention_rate) OVER (PARTITION BY unitid ORDER BY year)
      AS prior_ft_retention_rate,
    LAG(total_fte_staff) OVER (PARTITION BY unitid ORDER BY year)
      AS prior_total_fte_staff,
    LAG(avg_salary) OVER (PARTITION BY unitid ORDER BY year) AS prior_avg_salary,
    CAST(GREATEST(year - LAG(year) OVER (PARTITION BY unitid ORDER BY year), 1)
      AS DOUBLE) AS years_gap,
    CASE WHEN LAG(total_enrollment) OVER (PARTITION BY unitid ORDER BY year) > 0
         THEN total_enrollment
              / LAG(total_enrollment) OVER (PARTITION BY unitid ORDER BY year) - 1
         END AS enr_trend_1yr
  FROM (
    SELECT CAST(entity AS STRING) AS unitid, year,
      CASE WHEN entity % 4 = 0 THEN 'fasb' WHEN entity % 4 = 1 THEN 'gasb'
           WHEN entity % 4 = 2 THEN 'for_profit' ELSE 'irs990' END
        AS accounting_standard,
      entity % 15 = 0 AS is_subsidiary,
      CASE WHEN entity % 15 = 0 THEN CAST(entity + 1 AS STRING) END AS parent_unitid,
      CASE WHEN entity % 15 = 0 THEN 'Parent ' || CAST(entity + 1 AS STRING) END
        AS parent_name,
      CAST(CASE WHEN entity % 15 = 0 THEN (entity % 90) - 70.0 END AS DOUBLE)
        AS m_revenue_2yr_pct,
      CAST(CASE WHEN entity % 7 = 0 THEN NULL
           ELSE (entity % 12) * 0.08 - 0.20 END AS DOUBLE) AS c_equity,
      CASE WHEN entity % 6 = 0 THEN NULL ELSE rev * 0.25 END AS c_unrestricted,
      CASE WHEN entity % 4 = 1 THEN NULL ELSE rev * 0.95 END AS c_expenses_f,
      CASE WHEN entity % 4 IN (1, 2) THEN NULL ELSE rev * 0.95 END AS c_exp_f2,
      rev * 2.2 AS c_assets,
      rev * CAST(0.8 + (entity % 6) * 0.25 AS DOUBLE) AS c_liabilities,
      CASE WHEN entity % 8 = 0 THEN NULL ELSE rev * 0.30 END AS c_expendable,
      CASE WHEN entity % 4 = 1 THEN NULL ELSE rev * 1.1 END AS c_ppe,
      CASE WHEN entity % 4 = 1 THEN NULL
           ELSE rev * CAST(0.3 + (entity % 5) * 0.25 AS DOUBLE) END AS c_debt_ppe,
      rev * CAST(2.2 - 0.8 - (entity % 6) * 0.25 AS DOUBLE) AS c_net_assets,
      rev AS c_revenue,
      rev * CAST(0.88 + (entity % 5) * 0.05 AS DOUBLE) AS c_exp_op,
      CASE WHEN entity % 4 = 3 THEN NULL
           ELSE rev * CAST(0.10 + (entity % 4) * 0.08 AS DOUBLE) END AS c_instruction,
      CASE WHEN entity % 4 = 3 THEN NULL ELSE rev * 0.95 END AS c_instr_den,
      CASE WHEN entity % 4 IN (1, 3) THEN NULL
           ELSE rev * CAST(0.15 + (entity % 4) * 0.10 AS DOUBLE) END AS c_inst_support,
      CAST(CASE WHEN entity % 4 = 3 THEN NULL
           ELSE 40.0 + (entity % 12) * 5 END AS DOUBLE) AS c_tuition_pct,
      CAST(CASE WHEN entity % 10 = 0 THEN NULL
           ELSE (entity % 14) * 1500.0 END AS DOUBLE) AS endowment_per_fte,
      CAST(CASE WHEN entity % 9 = 0 THEN NULL
           ELSE 30.0 + (entity % 50) * 30 END AS DOUBLE) AS total_enrollment,
      CAST(CASE WHEN entity % 9 = 0 THEN NULL
           ELSE (30.0 + (entity % 50) * 30) * (0.3 + (entity % 6) * 0.1) END
        AS DOUBLE) AS ft_enrollment,
      CAST(CASE WHEN entity % 11 = 0 THEN NULL
           ELSE 30.0 + (entity % 8) * 9 END AS DOUBLE) AS ft_retention_rate,
      CAST(CASE WHEN entity % 12 = 0 THEN NULL
           ELSE 10.0 + (entity % 7) * 7 END AS DOUBLE) AS graduation_rate,
      CAST(CASE WHEN entity % 13 = 0 THEN NULL
           ELSE 8.0 + (entity % 6) * 6 END AS DOUBLE) AS student_faculty_ratio,
      CAST(CASE WHEN entity % 8 = 3 THEN NULL
           ELSE 10.0 + (entity % 8) * 5 END AS DOUBLE) AS admissions_yield,
      CAST(CASE WHEN entity % 8 = 3 THEN NULL
           ELSE 60.0 + (entity % 9) * 5 END AS DOUBLE) AS percent_admitted,
      CAST(CASE WHEN entity % 10 = 4 THEN NULL
           ELSE 40000.0 + (entity % 10) * 3000 END AS DOUBLE) AS avg_salary,
      CAST(CASE WHEN entity % 10 = 4 THEN NULL
           ELSE 50.0 + (entity % 20) * 20 END AS DOUBLE) AS total_fte_staff,
      CAST(CASE WHEN entity % 15 = 0 THEN (entity % 70) + 0.5 END AS DOUBLE)
        AS na_months,
      CAST(CASE WHEN entity % 3 = 0 THEN NULL
           ELSE (entity % 25) * 0.8 END AS DOUBLE) AS runway_std,
      CAST(CASE WHEN entity % 4 = 0 THEN NULL
           ELSE (entity % 9) * 0.01 - 0.04 END AS DOUBLE) AS enr_trend_4yr,
      CAST(CASE WHEN entity % 5 = 0 THEN NULL
           ELSE (entity % 11) * -0.05 END AS DOUBLE) AS enr_chg_3yr
    FROM (
      SELECT o.o_custkey AS entity,
             CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS year,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
               AS DOUBLE) / CAST(100 AS DOUBLE) AS rev
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ) base
  ) g
) w
"""


@query("scoring_ipeds_model", oracle=None)
def scoring_ipeds_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IPEDS v5 spec (incl. subsidiary months-of-reserve branch and
    the cliff domain adjustment) over a synthesized canonical table;
    oracle generated from the same spec."""
    from hummingbirddatapipeline_spark.scoring.specs_ipeds import SPEC_IPEDS

    for t in ("orders", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    src = spark.sql(_IPEDS_SOURCE_SQL)
    return apply_spec(src, SPEC_IPEDS)  # unsorted: order-insensitive gate


def _register_ipeds_oracle() -> None:
    from hummingbirddatapipeline_spark.catalog import ORACLES
    from hummingbirddatapipeline_spark.scoring.specs_ipeds import SPEC_IPEDS

    sql = spec_to_sql(SPEC_IPEDS, _IPEDS_SOURCE_SQL)
    ORACLES["scoring_ipeds_model"] = (
        f"SELECT * FROM ({sql}) q ORDER BY unitid, year"
    )


_register_ipeds_oracle()
