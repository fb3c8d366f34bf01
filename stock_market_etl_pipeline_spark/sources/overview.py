"""Company-overview dimension source (SURVEY.md §2.1 S2).

The reference fetches a per-symbol fundamentals dimension — Name, Sector,
Industry, MarketCapitalization, PERatio, 52-week range, dividend fields —
from its quote API (``src/extract.py:160-270``). The engine derives the
same shape deterministically: the symbol universe is ``s_suppkey``
(matching sources/ticks.py), the descriptive attributes come from the
supplier/nation tables, and the numeric fundamentals from the shared
md5→60-bit hash primitive (functions/text.py) — so the dim is fully
reproducible and oracle-checkable bit-for-bit in DuckDB.

Scale note: one row per symbol — a canonical broadcast dimension. Every
fact-side enrichment join against it must broadcast (the dim is KB-scale
even at a 100 TB fact volume); asserted in tests/test_plan_shapes.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import md5_hash60
from .tables import load_table

TWO_60 = float(1 << 60)

SECTORS = (
    "Technology", "Financials", "Energy",
    "Health Care", "Industrials", "Consumer Staples",
)
INDUSTRIES = (
    "Software", "Semiconductors", "Banks", "Insurance", "Oil & Gas",
    "Renewables", "Pharma", "Med Devices", "Machinery", "Aerospace",
    "Food Products", "Household Goods",
)

_SEED = "ovr"


def _u(field: str, sym: Column) -> Column:
    """Deterministic U[0,1) per (field, symbol) — same primitive as the
    synthetic quote generator (sources/synthetic.py)."""
    return md5_hash60(F.concat_ws("|", F.lit(f"{_SEED}:{field}"), sym)) / F.lit(TWO_60)


def _pick(field: str, sym: Column, choices: tuple[str, ...]) -> Column:
    h = md5_hash60(F.concat_ws("|", F.lit(f"{_SEED}:{field}"), sym))
    return F.element_at(
        F.array(*[F.lit(c) for c in choices]),
        (h % F.lit(len(choices))).cast("int") + 1,
    )


def company_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per symbol: company descriptives + deterministic fundamentals.

    supplier × broadcast(nation) for name/country; hash-derived sector,
    industry, market cap, P/E, dividend yield, and 52-week price range.
    """
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("symbol"),
        F.col("s_name").alias("company_name"),
        "s_nationkey",
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("country")
    )
    sym = F.col("symbol").cast("string")
    low = F.round(F.lit(20.0) + _u("base", sym) * 180.0, 6)
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(
            "symbol",
            "company_name",
            "country",
            _pick("sector", sym, SECTORS).alias("sector"),
            _pick("industry", sym, INDUSTRIES).alias("industry"),
            (
                F.lit(100_000_000)
                + F.floor(_u("cap", sym) * 1e10).cast("bigint")
            ).cast("bigint").alias("market_cap"),
            F.round(F.lit(5.0) + _u("pe", sym) * 45.0, 6).alias("pe_ratio"),
            F.round(_u("div", sym) * 0.08, 6).alias("dividend_yield"),
            F.round(low * (F.lit(1.2) + _u("spread", sym) * 0.8), 6).alias(
                "week52_high"
            ),
            low.alias("week52_low"),
        )
    )


def _u_sql(field: str) -> str:
    return (
        f"('0x' || substr(md5('{_SEED}:{field}' || '|' || s_suppkey), 1, 15))"
        f"::BIGINT / {TWO_60:.1f}"
    )


def _pick_sql(field: str, choices: tuple[str, ...]) -> str:
    lst = "[" + ", ".join(f"'{c}'" for c in choices) + "]"
    h = (
        f"('0x' || substr(md5('{_SEED}:{field}' || '|' || s_suppkey), 1, 15))"
        f"::BIGINT"
    )
    return f"{lst}[CAST({h} % {len(choices)} AS INTEGER) + 1]"


# DuckDB twin of company_overview() — prepended as a CTE named `overview`.
OVERVIEW_CTE = f"""
overview AS (
    SELECT
        s_suppkey                                   AS symbol,
        s_name                                      AS company_name,
        n.n_name                                    AS country,
        {_pick_sql('sector', SECTORS)}              AS sector,
        {_pick_sql('industry', INDUSTRIES)}         AS industry,
        CAST(100000000 + FLOOR({_u_sql('cap')} * 1e10) AS BIGINT) AS market_cap,
        ROUND(5.0 + {_u_sql('pe')} * 45.0, 6)       AS pe_ratio,
        ROUND({_u_sql('div')} * 0.08, 6)            AS dividend_yield,
        ROUND(ROUND(20.0 + {_u_sql('base')} * 180.0, 6)
              * (1.2 + {_u_sql('spread')} * 0.8), 6) AS week52_high,
        ROUND(20.0 + {_u_sql('base')} * 180.0, 6)   AS week52_low
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
)
"""
