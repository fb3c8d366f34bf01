"""README count drift guard (VERDICT r5 item #7).

The README states the registry size and the oracled/rows-only split;
those numbers rotted twice (r4, r5) because nothing enforced them. This
test re-derives every stated count from the registry itself, so adding a
query without touching README fails fast with the exact number to paste.
"""
import os
import re

from stock_market_etl_pipeline_spark import registry

_README = os.path.join(os.path.dirname(__file__), "..", "README.md")


def _readme_text():
    with open(_README, encoding="utf-8") as fh:
        return fh.read()


def test_readme_query_counts_match_registry():
    text = _readme_text()
    n_queries = len(registry.queries())
    n_oracled = len(registry.oracle_sql())
    n_rows_only = n_queries - n_oracled

    m = re.search(r"registry\*\.py\s+(\d+) queries, (\d+) paired", text)
    assert m, "README layout block must state '<N> queries, <M> paired'"
    assert int(m.group(1)) == n_queries, (
        f"README says {m.group(1)} queries; registry has {n_queries}"
    )
    assert int(m.group(2)) == n_oracled, (
        f"README says {m.group(2)} oracled; registry has {n_oracled}"
    )

    m = re.search(r"the (\d+)\s+rows-only entries", text)
    assert m and int(m.group(1)) == n_rows_only

    m = re.search(r"`-m oracle`: all\s+(\d+) queries", text)
    assert m and int(m.group(1)) == n_queries
