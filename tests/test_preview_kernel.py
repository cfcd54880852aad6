"""The one mapInPandas preview kernel, driven without Spark.

make_preview_fn serves the full, pushdown and tail-pushdown plans. These
tests feed it hand-built Arrow-shaped pandas batches and check that the
carry loop stitches conversations across batch splits: the rows equal one
call on the concatenated batch and summarize_value over the
last-write-wins merged turns.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa

from headson_spark.kernel.api import summarize_value
from headson_spark.kernel.arena import default_sample_indices
from headson_spark.operators.preview import make_preview_fn

BUDGET = 40
CAP = BUDGET // 2

ROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us"))])
PUSHDOWN_SCHEMA = (ROW_SCHEMA.append(pa.field("_total", pa.int32()))
                   .append(pa.field("_chars", pa.int64())))


def _conv(cid, n, dups=(), first=0):
    """n turns from turn_idx `first`; each index in `dups` is delivered
    again later with a ' v2' payload (the last-write-wins winner)."""
    rows = []
    for t in range(first, first + n):
        rows.append((cid, t, "user", f"{cid} turn {t}", "", t))
        if t in dups:
            rows.append((cid, t, "user", f"{cid} turn {t} v2", "", 10_000))
    return rows


def _sorted(rows):
    return sorted(rows, key=lambda r: (r[0], r[1], r[5]))


def _batch(rows, schema=ROW_SCHEMA):
    """Rows as Spark hands them to mapInPandas: Arrow-decoded pandas.
    Sentinel rows have None role/text/tool/ts; kept rows have None
    _total/_chars."""
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    data = {}
    for f, col in zip(schema, cols):
        col = list(col)
        if f.name == "ts":
            col = [None if v is None else v * 1_000_000 for v in col]
        data[f.name] = pa.array(col, type=f.type)
    return pa.table(data, schema=schema).to_pandas()


def _run(batches, skew="balanced"):
    fn = make_preview_fn(BUDGET, "default", skew, "json")
    out = pd.concat(list(fn(iter(batches))), ignore_index=True)
    return {r.conv_id: (r.preview, r.n_turns, r.n_chars, r.preview_bytes)
            for r in out.itertuples()}


def _expected(rows, skew="balanced"):
    """summarize_value over the last-write-wins merged turns."""
    merged: dict = {}
    for cid, t, role, text, tool, _ in _sorted(rows):
        merged.setdefault(cid, {})[t] = (role, text, tool)
    out = {}
    for cid, turns in merged.items():
        doc = {"turns": [{"role": r, "text": x, "tool": tl}
                         for _, (r, x, tl) in sorted(turns.items())]}
        preview = summarize_value(doc, format="json", style="default",
                                  character_budget=BUDGET, skew=skew)
        out[cid] = (preview, len(turns),
                    sum(len(x) for _, x, _ in turns.values()),
                    len(preview.encode("utf-8")))
    return out


def _pushdown_rows(rows, skew="balanced"):
    """What the pushdown plans ship: every delivery of a kept position
    plus one sentinel per conversation, sorted as the stage sorts."""
    out = []
    for cid in sorted({r[0] for r in rows}):
        conv = [r for r in rows if r[0] == cid]
        total = max(r[1] for r in conv) + 1
        if skew == "tail":
            kept = set(range(max(total - CAP, 0), total))
        else:
            kept = set(default_sample_indices(CAP, total))
        out.append((cid, -1, None, None, None, None, total,
                    sum(len(r[3]) for r in conv)))
        out.extend(r + (None, None) for r in _sorted(conv) if r[1] in kept)
    return out


def _check_splits(rows, cuts, schema=ROW_SCHEMA, skew="balanced",
                  expected=None):
    batches = [_batch(rows[a:b], schema)
               for a, b in zip([0] + cuts, cuts + [len(rows)])]
    got = _run(batches, skew)
    assert got == _run([_batch(rows, schema)], skew)
    assert got == expected
    return got


def test_conversation_split_across_three_batches():
    rows = _sorted(_conv("a", 60, dups={3, 40}) + _conv("b", 5))
    _check_splits(rows, [10, 35], expected=_expected(rows))


def test_empty_batch_between_two_others():
    rows = _sorted(_conv("a", 30, dups={7}) + _conv("b", 12))
    batches = [_batch(rows[:20]), _batch([]), _batch(rows[20:])]
    assert _run(batches) == _expected(rows)


def test_batch_ends_on_conversation_boundary():
    rows = _sorted(_conv("a", 25) + _conv("b", 8, dups={2}) + _conv("c", 3))
    boundary = sum(1 for r in rows if r[0] == "a")
    _check_splits(rows, [boundary], expected=_expected(rows))


def test_pushdown_sentinel_ends_batch_kept_rows_follow():
    full = _sorted(_conv("a", 90, dups={0, 5}) + _conv("b", 120, dups={1}))
    rows = _pushdown_rows(full)
    sentinel_b = rows.index(next(r for r in rows if r[:2] == ("b", -1)))
    # batch 1 ends on b's sentinel; b's kept rows arrive in batch 2
    got = _check_splits(rows, [sentinel_b + 1], PUSHDOWN_SCHEMA,
                        expected=_expected(full))
    assert got["b"][1] == 120


def test_tail_pushdown_split_inside_kept_rows():
    full = _sorted(_conv("a", 70, dups={69}) + _conv("b", 9))
    rows = _pushdown_rows(full, skew="tail")
    _check_splits(rows, [1, 12], PUSHDOWN_SCHEMA, skew="tail",
                  expected=_expected(full, skew="tail"))


def test_full_plan_turn_idx_minus_one_is_a_turn():
    # no _total column: a turn_idx == -1 data row is not a sentinel
    rows = _sorted(_conv("a", 4, first=-1) + _conv("b", 3))
    got = _check_splits(rows, [2], expected=_expected(rows))
    assert got["a"][1] == 4
    assert got["a"][2] == sum(len(r[3]) for r in rows if r[0] == "a")
