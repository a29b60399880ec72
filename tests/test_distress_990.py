"""Golden tests for the 990 distress pipeline.

Expected values hand-computed from the reference semantics
(Hummingbird_Master_engine_990.py): interp thresholds per kernel,
A6 NULL-renormalizing aggregation, A8 completeness, category bands,
master writeback with category remap.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from hummingbirddatapipeline_spark.pipelines.distress_990 import (
    integrate_with_master,
    score_all_years,
    score_asof,
)

NUM_FIELDS = [
    "total_revenue", "total_expenses", "total_assets", "total_liabilities",
    "total_net_assets", "unrestricted_net_assets", "cash",
    "savings_temp_investments", "accounts_receivable", "accounts_payable",
    "deferred_revenue", "secured_mortgages", "unsecured_notes",
    "land_buildings_equipment", "program_revenue", "contributions",
    "investment_income", "officer_compensation", "other_salaries",
    "pension_contributions", "other_employee_benefits", "payroll_tax",
    "fundraising_fees", "payable_to_officers",
    "current_receivables_from_officers", "employee_count",
]


def filing(ein, year, ftype, **kw):
    row = {"ein": ein, "filing_year": year, "filing_type": ftype,
           "ceased_operations": kw.pop("ceased_operations", "N"),
           "sold_assets": kw.pop("sold_assets", "N")}
    for f in NUM_FIELDS:
        row[f] = float(kw[f]) if f in kw and kw[f] is not None else None
    unknown = set(kw) - set(NUM_FIELDS)
    assert not unknown, unknown
    return row


def filings_schema():
    fields = [
        T.StructField("ein", T.StringType()),
        T.StructField("filing_year", T.IntegerType()),
        T.StructField("filing_type", T.StringType()),
        T.StructField("ceased_operations", T.StringType()),
        T.StructField("sold_assets", T.StringType()),
    ] + [T.StructField(f, T.DoubleType()) for f in NUM_FIELDS]
    return T.StructType(fields)


@pytest.fixture(scope="module")
def filings(spark):
    rows = [
        # Entity 123 (standard): healthy 2023, deteriorating 2024
        filing(
            "123", 2023, "standard",
            total_revenue=1000, total_expenses=900, total_assets=2000,
            total_liabilities=800, total_net_assets=1200,
            unrestricted_net_assets=500, cash=300, savings_temp_investments=100,
            accounts_receivable=50, accounts_payable=100, deferred_revenue=50,
            secured_mortgages=200, unsecured_notes=100,
            land_buildings_equipment=1000, program_revenue=600,
            contributions=300, investment_income=100, officer_compensation=100,
            other_salaries=200, pension_contributions=20,
            other_employee_benefits=30, payroll_tax=25, fundraising_fees=10,
            payable_to_officers=0, current_receivables_from_officers=0,
            employee_count=50,
        ),
        filing(
            "123", 2024, "standard",
            total_revenue=800, total_expenses=950, total_assets=1800,
            total_liabilities=900, total_net_assets=900,
            unrestricted_net_assets=400, cash=150, savings_temp_investments=50,
            accounts_receivable=40, accounts_payable=120, deferred_revenue=60,
            secured_mortgages=250, unsecured_notes=100,
            land_buildings_equipment=950, program_revenue=500,
            contributions=250, investment_income=50, officer_compensation=100,
            other_salaries=250, pension_contributions=20,
            other_employee_benefits=30, payroll_tax=25, fundraising_fees=200,
            payable_to_officers=100, current_receivables_from_officers=0,
            employee_count=40, sold_assets="Y",
        ),
        # Entity 77 (ez): single year, zero expenses edge
        filing(
            "77", 2024, "ez",
            total_revenue=100, total_expenses=0, total_assets=500,
            total_liabilities=250, total_net_assets=250,
            program_revenue=95, contributions=5,
        ),
    ]
    return spark.createDataFrame(rows, filings_schema())


def by_key(df, *keys):
    return {tuple(r[k] for k in keys): r.asDict() for r in df.collect()}


class TestScoreAllYears:
    def test_standard_2024(self, filings):
        r = by_key(score_all_years(filings), "ein", "filing_year")[("123", 2024)]
        # solvency all healthy -> 0
        assert r["solvency_score"] == 0.0
        # liquidity: days_cash .1754, liquid_ratio .1667, deferred 0
        assert r["liquidity_score"] == pytest.approx(12.9)
        # operating: margin interp((.05-(-0.1875))/.25)=.95 -> 38.0
        assert r["operating_performance_score"] == pytest.approx(38.0)
        # trend: all four maxed -> 100
        assert r["trend_score"] == 100.0
        # red flags: insider .5556*.2 + fundraising 1*.25 + sold .5*.25
        assert r["red_flags_score"] == pytest.approx(48.6)
        # composite: .3*0+.2*12.85088+.25*38+.2*100+.05*48.61111 = 34.5
        assert r["distress_score"] == pytest.approx(34.5)
        assert r["risk_category"] == "Low Risk"
        assert r["data_completeness"] == 100.0
        assert r["indicators_scored"] == 19
        # raws for transparency (4dp)
        assert r["equity_ratio_raw"] == pytest.approx(0.5)
        assert r["days_cash_raw"] == pytest.approx(76.8421)
        assert r["net_asset_trend_raw"] == pytest.approx(-0.25)

    def test_first_year_has_null_trends(self, filings):
        r = by_key(score_all_years(filings), "ein", "filing_year")[("123", 2023)]
        assert r["trend_score"] is None
        assert r["revenue_trend_raw"] is None
        # renormalized composite over remaining domains:
        # (.05 * 1.66667) / 0.8 = 0.1
        assert r["distress_score"] == pytest.approx(0.1)
        assert r["risk_category"] == "Healthy"
        assert r["indicators_scored"] == 15
        assert r["data_completeness"] == 79.0

    def test_ez_availability_renormalization(self, filings):
        r = by_key(score_all_years(filings), "ein", "filing_year")[("77", 2024)]
        # std-only indicators NULL; liquidity domain entirely NULL
        assert r["liquidity_score"] is None
        assert r["solvency_score"] == 0.0
        # operating: (.25*.4 + .20*1.0)/.85 * 100 = 35.3
        assert r["operating_performance_score"] == pytest.approx(35.3)
        # composite renorm: (.25*35.29412)/(.30+.25+.05) = 14.7
        assert r["distress_score"] == pytest.approx(14.7)
        assert r["indicators_scored"] == 7
        assert r["data_completeness"] == 37.0


class TestAsofAndWriteback:
    def test_asof_prefers_target_year(self, filings):
        rows = by_key(score_asof(filings, target_year=2023), "ein")
        assert rows[("123",)]["filing_year"] == 2023
        assert rows[("77",)]["filing_year"] == 2024  # fallback: most recent

    def test_integrate_with_master(self, spark, filings):
        master = spark.createDataFrame(
            [
                # leading-zero EIN must still match (990.py:1287-1289)
                ("Org A", "Hummingbird_990", "00123", 10.0, "Low"),
                ("College B", "IPEDS", "123", 55.0, "Moderate"),
                ("Org C", "Hummingbird_990", "999", 70.0, "High"),
            ],
            "institution_name string, data_source string, ein string, "
            "distress_score double, distress_category string",
        )
        out = {r["institution_name"]: r.asDict()
               for r in integrate_with_master(master, filings, 2024).collect()}
        a = out["Org A"]
        assert a["distress_score"] == pytest.approx(34.5)
        assert a["distress_category"] == "Low"  # remap of 'Low Risk'
        assert a["distress_score_990"] == pytest.approx(34.5)
        assert a["score_year_990"] == 2024
        assert a["filing_type_990"] == "standard"
        # IPEDS row untouched even though EIN matches
        b = out["College B"]
        assert b["distress_score"] == 55.0 and b["distress_score_990"] is None
        # unmatched 990 row keeps old values
        c = out["Org C"]
        assert c["distress_score"] == 70.0 and c["distress_category"] == "High"


class TestFilingPrecedence:
    """990.py:707-715 — richer filing type wins per (ein, year)."""

    def test_standard_beats_ez_same_year(self, spark):
        from hummingbirddatapipeline_spark.pipelines.distress_990 import (
            resolve_filing_precedence, score_all_years,
        )

        rows = [
            filing("555", 2024, "ez", total_revenue=100, total_expenses=90,
                   total_assets=500, total_liabilities=250,
                   total_net_assets=250),
            filing("555", 2024, "standard", total_revenue=1000,
                   total_expenses=900, total_assets=2000,
                   total_liabilities=800, total_net_assets=1200, cash=300),
            filing("555", 2023, "ez", total_revenue=90, total_expenses=80,
                   total_assets=450, total_liabilities=225,
                   total_net_assets=225),
        ]
        df = spark.createDataFrame(rows, filings_schema())
        resolved = resolve_filing_precedence(df)
        got = by_key(resolved, "ein", "filing_year")
        assert len(got) == 2  # one row per (ein, year)
        assert got[("555", 2024)]["filing_type"] == "standard"
        assert got[("555", 2024)]["total_revenue"] == 1000.0
        assert got[("555", 2023)]["filing_type"] == "ez"

        scored = by_key(score_all_years(df), "ein", "filing_year")
        assert len(scored) == 2
        # the 2024 score must come from the standard row (availability
        # matrix exposes cash-based liquidity only on standard filings)
        assert scored[("555", 2024)]["filing_type"] == "standard"

    def test_pf_below_ez(self, spark):
        from hummingbirddatapipeline_spark.pipelines.distress_990 import (
            resolve_filing_precedence,
        )

        rows = [
            filing("9", 2024, "pf", total_revenue=5),
            filing("9", 2024, "ez", total_revenue=7),
        ]
        df = spark.createDataFrame(rows, filings_schema())
        got = by_key(resolve_filing_precedence(df), "ein", "filing_year")
        assert got[("9", 2024)]["filing_type"] == "ez"

