"""Checked-in golden regression guard: the Spark lift over the fixture
corpus must reproduce tests/fixtures/html_triples_golden_seed42_n100.jsonl
EXACTLY (generated once from the single-node oracle; guards both the
generator and the lift against silent semantic drift — BASELINE.md
P/R >= 0.95 gate, asserted at 1.0)."""

import json
from pathlib import Path

from cyclegraph_spark.operators.triples import lift_html_pages
from cyclegraph_spark.sources.pages import pages_df

FIXTURE = Path(__file__).parent / "fixtures" / "html_triples_golden_seed42_n100.jsonl"


def _golden():
    return {
        (r["src"], r["subj"], r["pred"], r["obj"], r["obj_dtype"])
        for r in map(json.loads, FIXTURE.read_text().splitlines())
    }


def test_lift_matches_checked_in_golden(spark):
    got = {
        (r.src, r.subj, r.pred, r.obj, r.obj_dtype)
        for r in lift_html_pages(pages_df(spark, 100, partitions=4)).collect()
    }
    exp = _golden()
    tp = len(got & exp)
    precision, recall = tp / len(got), tp / len(exp)
    assert precision >= 0.95 and recall >= 0.95
    assert got == exp, (
        f"missing={sorted(exp - got)[:3]} extra={sorted(got - exp)[:3]}"
    )
