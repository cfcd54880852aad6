"""Declarative windowed rolling previews (tumbling / sliding variants).

Where the session-window previews live inside applyInPandasWithState
(engine.py), the rolling variants are pure declarative streaming
aggregations: watermark -> window() groupBy -> collect turns -> one
Arrow-vectorized render UDF over the aggregated struct array. Works in
append mode (window closes at watermark), so any sink supports it.

Bounded-state design (the batch pipeline's limit pushdown, rolling
form): the sampler keep-set predicate is evaluated BELOW the window
aggregation — `collect_list(CASE WHEN keep THEN struct END)` buffers
only keep-set turns (collect_list skips NULL inputs during the partial,
map-side aggregation), so a mega-conversation delivering 50k turns into
one window holds O(cap) structs in the aggregation buffer instead of
50k. Delivered-count and max-turn totals aggregate over ALL rows in the
same groupBy (a plain Filter below the agg would lose them), so
`n_turns` stays the exact delivered count.

Sampling position contract (same as the batch pushdown,
operators/preview.py): turn_idx is the dense 0-based CONVERSATION
position, and the keep decision is a function of that position — the
same turns of a conversation are kept in every window they land in.
For a window containing the conversation's dense prefix (the common
tumbling case: conversation starts inside the window) this is
byte-identical to sampling the window's merged turn list directly; for
a window that starts mid-conversation, omission totals count the
conversation positions up to the window's max delivered turn, i.e. the
preview reads "conversation so far, this window's kept turns".
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernel.api import make_configs, render_conversation


def make_render_udf(budget: int = 500, style: str = "default",
                    skew: str = "balanced", fmt: str = "json"):
    """Render UDF over a complete (unfiltered) turn-struct array — used
    when the caller collected every turn of the group (the row IS the
    group; one kernel render per row)."""
    cfg, prio, budget_ = make_configs(format=fmt, style=style,
                                      character_budget=budget, skew=skew)

    @pandas_udf("string")
    def render_turns(turns: pd.Series) -> pd.Series:
        out = []
        for arr in turns:
            items = sorted(arr, key=lambda r: (r["turn_idx"], r["ts"]))
            # last-write-wins per turn_idx
            merged: dict[int, tuple] = {}
            for r in items:
                merged[r["turn_idx"]] = (r["role"], r["text"], r["tool"])
            idxs = sorted(merged)
            out.append(render_conversation(
                [merged[i][0] for i in idxs],
                [merged[i][1] for i in idxs],
                [merged[i][2] for i in idxs], cfg, prio, budget_))
        return pd.Series(out)

    return render_turns


def make_presampled_render_udf(budget: int = 500, style: str = "default",
                               skew: str = "balanced", fmt: str = "json"):
    """Render UDF for pushed-down windowed input: `turns` holds only the
    keep-set structs; `total` is the conversation position count the
    omission accounting runs against (max delivered turn_idx + 1). Uses
    the kernel's pre-sampled arena path, so the render is byte-identical
    to sampling the full list whenever the kept positions are exactly
    the sampler's keep-set over [0, total)."""
    cfg, prio, budget_ = make_configs(format=fmt, style=style,
                                      character_budget=budget, skew=skew)

    @pandas_udf("string")
    def render_kept(turns: pd.Series, total: pd.Series) -> pd.Series:
        out = []
        for arr, tot in zip(turns, total):
            arr = arr if arr is not None else []
            items = sorted((r for r in arr if r is not None),
                           key=lambda r: (r["turn_idx"], r["ts"]))
            merged: dict[int, tuple] = {}
            for r in items:
                merged[r["turn_idx"]] = (r["role"], r["text"], r["tool"])
            idxs = sorted(merged)
            out.append(render_conversation(
                [merged[i][0] for i in idxs],
                [merged[i][1] for i in idxs],
                [merged[i][2] for i in idxs], cfg, prio, budget_,
                pre_sampled_indices=idxs,
                pre_sampled_total=max(int(tot), len(idxs))))
        return pd.Series(out)

    return render_kept


def rolling_previews(stream_df, *, window: str = "5 minutes",
                     slide: str | None = None,
                     watermark: str = "10 minutes", budget: int = 500,
                     style: str = "default", skew: str = "balanced"):
    """Tumbling (slide=None) or sliding rolling previews per conversation
    per event-time window, with the sampler keep-set pushed below the
    window aggregation (bounded state; see module docstring).

    skew="balanced" (default 3-phase sampler) and "head" support the
    pushdown; "tail" kept-ness depends on the conversation length, which
    a single declarative streaming aggregation cannot know pre-agg — use
    the stateful session engine (streaming/engine.py) for tail skew.

    Mid-conversation window caveat: kept-ness is a function of ABSOLUTE
    turn position, so a window that only delivers turns past the keep-
    set range (routine for sliding windows that open mid-conversation)
    renders a (near-)empty preview while its n_turns stays > 0 — by
    design, the preview shows the sampler's keep-set, nothing else.
    Positions >= 1<<20 (default_kept_positions' max_len) are never
    kept for the same reason. Where whole-conversation previews per
    window matter, use the stateful session engine instead.
    """
    from ..operators.sampling import default_kept_positions

    cap = max(max(budget, 1) // 2, 1)
    if skew == "head":
        keep = F.col("turn_idx") < cap
    elif skew == "balanced":
        keep = F.col("turn_idx").isin(default_kept_positions(cap))
    else:
        raise ValueError(
            f"rolling_previews supports skew='balanced'|'head', got "
            f"{skew!r}; tail kept-ness needs the conversation length — "
            f"use the stateful session engine for tail skew")
    win = (F.window("ts", window, slide) if slide
           else F.window("ts", window))
    render = make_presampled_render_udf(budget=budget, style=style,
                                        skew=skew)
    turn_struct = F.struct("turn_idx", "role", "text", "tool", "ts")
    return (stream_df
            .withWatermark("ts", watermark)
            .groupBy(F.col("conv_id"), win.alias("win"))
            .agg(
                # keep-set evaluated map-side, below the exchange: only
                # kept turns enter the aggregation buffer
                F.collect_list(F.when(keep, turn_struct)).alias("turns"),
                F.count(F.lit(1)).alias("n_delivered"),
                (F.max("turn_idx") + 1).alias("_total"))
            .select("conv_id",
                    F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    F.col("n_delivered").cast("int").alias("n_turns"),
                    render(F.col("turns"), F.col("_total"))
                    .alias("preview")))
