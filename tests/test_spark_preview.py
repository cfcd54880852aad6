"""Spark preview operator == direct kernel result, per conversation."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from headson_spark.kernel import summarize_value
from headson_spark.operators.preview import conversation_previews


def expected_previews(pdf: pd.DataFrame, budget=500, style="default",
                      skew="balanced") -> dict[str, str]:
    out = {}
    for conv_id, grp in pdf.groupby("conv_id"):
        grp = (grp.sort_values(["turn_idx", "ts"], kind="stable")
                  .drop_duplicates(subset=["turn_idx"], keep="last"))
        doc = {"turns": [{"role": r, "text": t, "tool": tl}
                         for r, t, tl in zip(grp["role"], grp["text"],
                                             grp["tool"])]}
        out[conv_id] = summarize_value(doc, format="json", style=style,
                                       character_budget=budget, skew=skew)
    return out


@pytest.fixture(scope="module")
def tdf(spark, transcripts_path):
    return spark.read.parquet(transcripts_path)


def test_preview_matches_kernel(spark, tdf, transcripts_path):
    pdf = pd.read_parquet(transcripts_path)
    exp = expected_previews(pdf)
    got = {r["conv_id"]: r["preview"]
           for r in conversation_previews(tdf, budget=500).collect()}
    assert set(got) == set(exp)
    mismatches = {k for k in exp if got[k] != exp[k]}
    assert not mismatches, sorted(mismatches)[:5]


def test_preview_budget_respected(spark, tdf):
    rows = conversation_previews(tdf, budget=200).collect()
    minimal = {r["conv_id"]: r["preview_bytes"]
               for r in conversation_previews(tdf, budget=0).collect()}
    assert rows
    for r in rows:
        # over budget only when even the minimal preview exceeds it
        assert (r["preview_bytes"] <= 200
                or r["preview_bytes"] == minimal[r["conv_id"]]), r
        assert len(r["preview"].encode("utf-8")) == r["preview_bytes"]


def test_preview_strict_json_parses(spark, tdf):
    rows = conversation_previews(tdf, budget=300, style="strict").collect()
    for r in rows:
        doc = json.loads(r["preview"])
        assert isinstance(doc, dict)


def test_late_duplicates_last_write_wins(spark, tdf):
    rows = conversation_previews(
        tdf.filter("conv_id like 'clate_%'"), budget=10000).collect()
    pdf = tdf.filter("conv_id like 'clate_%'").toPandas()
    dups = pdf[pdf.duplicated(subset=["conv_id", "turn_idx"], keep=False)]
    assert len(dups) > 0, "late fixture should contain duplicate turns"
    by_conv = {r["conv_id"]: r for r in rows}
    for conv_id in dups["conv_id"].unique():
        assert "v2" in by_conv[conv_id]["preview"]
        # the v1 payload of every duplicated turn must not appear
        grp = pdf[pdf["conv_id"] == conv_id]
        d = grp[grp.duplicated(subset=["turn_idx"], keep=False)]
        for _, texts in d.groupby("turn_idx")["text"]:
            v1 = min(texts, key=len)
            assert v1 + '"' not in by_conv[conv_id]["preview"], v1
