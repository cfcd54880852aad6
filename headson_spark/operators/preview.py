"""Batch conversation-preview operator (the engine's flagship query).

Spark plan (scale-first, one shuffle total):

    repartition(conv_id)                  -- single hash shuffle; AQE handles
    sortWithinPartitions(conv_id,         -- skewed/coalesced partitions
                         turn_idx, ts)
    mapInPandas(kernel)                   -- Arrow batches; one Python call
                                          -- per ~10k rows, NOT per group

Compared to groupBy().applyInPandas this avoids one Python invocation per
conversation (millions of tiny groups at 100 TB) while computing the exact
same per-conversation result: rows of one conversation are contiguous after
the sort, and the mapInPandas generator carries the trailing partial
conversation across Arrow batch boundaries.

One kernel (make_preview_fn) serves all three plans; they differ only in
which rows reach it. The full plan sends every turn. The pushdown and
tail-pushdown plans send the sampler keep-set plus one sentinel row per
conversation carrying its pre-filter totals.

Inside the kernel:
- duplicate (conv_id, turn_idx) turns merge last-write-wins by ts (the
  north_rule stateful-join semantics, batch form)
- stable turn ordering by turn_idx before budget allocation
- each conversation renders via the headson kernel at `budget` bytes

Reference semantics: conversation = document {"turns":[{role,text,tool}..]}
(FIXTURES.md §2), preview per /root/reference/python/src/lib.rs:95-124.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from ..kernel.api import make_configs, render_conversation

PREVIEW_SCHEMA = ("conv_id string, preview string, n_turns int, "
                  "n_chars bigint, preview_bytes int")


def make_preview_fn(budget: int = 500, style: str = "default",
                    skew: str = "balanced", fmt: str = "json"):
    """Build the mapInPandas kernel closure (pickled to executors) that
    every plan runs. Rows arrive sorted by (conv_id, turn_idx, ts).

    A conversation run that starts with a sentinel row (turn_idx == -1 in
    a batch that has the pushdown plans' `_total` column) carries the
    sampler keep-set only: it renders as a pre-sampled arena, n_turns is
    the sentinel's `_total` (the pre-filter length) and n_chars is the
    sentinel's `_chars` (sum of text lengths over ALL delivered rows)
    minus the LWW-loser lengths. Any other run is a whole conversation
    and renders from its LWW-winning turns. Without the `_total` column
    (full plan) a turn_idx == -1 row is an ordinary turn.

    n_chars exactness on pushed-down input (matches the full plan: total
    chars over the LWW-winning turns of the WHOLE conversation, not just
    the kept set): losers on KEPT positions are visible here (the keep-set
    filter passes every delivery of a kept turn_idx) and are subtracted
    exactly; a duplicate delivery of a NON-kept turn is invisible
    post-filter, so its loser length stays counted — n_chars is exact
    whenever duplicate deliveries land on keep-set positions (or nowhere)
    and an upper bound otherwise."""
    cfg, prio, budget = make_configs(format=fmt, style=style,
                                     character_budget=budget, skew=skew)

    import numpy as np

    def flush(pdf: pd.DataFrame) -> pd.DataFrame:
        conv = pdf["conv_id"].to_numpy()
        tidx = pdf["turn_idx"].to_numpy()
        presampled = "_total" in pdf.columns
        # vectorized last-write-wins: rows are ts-ascending within
        # (conv_id, turn_idx), so keep each run's last row
        keep = np.empty(len(conv), dtype=bool)
        keep[-1] = True
        keep[:-1] = (conv[:-1] != conv[1:]) | (tidx[:-1] != tidx[1:])
        loser_chars: dict = {}
        if not keep.all():
            if "_chars" in pdf.columns:
                lose = ~keep
                for c, t in zip(conv[lose], pdf["text"].to_numpy()[lose]):
                    if t is not None:
                        loser_chars[c] = loser_chars.get(c, 0) + len(t)
            pdf = pdf[keep]
            conv = conv[keep]
            tidx = tidx[keep]
        roles = pdf["role"].tolist()
        texts = pdf["text"].tolist()
        tools = pdf["tool"].tolist()
        if presampled:
            totals = pdf["_total"].to_numpy()
            charss = pdf["_chars"].to_numpy()
        # conversation boundaries on the sorted conv_id column
        bounds = np.flatnonzero(conv[1:] != conv[:-1]) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(conv)]))
        out = {"conv_id": [], "preview": [], "n_turns": [],
               "n_chars": [], "preview_bytes": []}
        for s, e in zip(starts, ends):
            cid = conv[s]
            if presampled and tidx[s] == -1:  # sentinel sorts first
                n_turns = int(totals[s])
                c = charss[s]
                s += 1
                preview = render_conversation(
                    roles[s:e], texts[s:e], tools[s:e], cfg, prio, budget,
                    pre_sampled_indices=tidx[s:e].tolist(),
                    pre_sampled_total=n_turns)
                # guard both null encodings (float NaN / object None)
                if c is not None and c == c:
                    n_chars = int(c) - loser_chars.get(cid, 0)
                else:
                    n_chars = sum(len(t) for t in texts[s:e])
            else:
                preview = render_conversation(
                    roles[s:e], texts[s:e], tools[s:e], cfg, prio, budget)
                n_turns = e - s
                n_chars = sum(len(t) for t in texts[s:e])
            out["conv_id"].append(cid)
            out["preview"].append(preview)
            out["n_turns"].append(n_turns)
            out["n_chars"].append(n_chars)
            out["preview_bytes"].append(len(preview.encode("utf-8")))
        return pd.DataFrame(out)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # concat(carry, batch) preserves the (conv_id, turn_idx, ts) order
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            last = pdf["conv_id"].iloc[-1]
            # hold back the (possibly incomplete) trailing conversation
            vals = pdf["conv_id"].to_numpy()
            cut = int(np.searchsorted(vals, last, side="left"))
            carry = pdf.iloc[cut:]
            ready = pdf.iloc[:cut]
            if len(ready):
                yield flush(ready)
        if carry is not None and len(carry):
            yield flush(carry)

    return fn


def _kernel_stage(rows, budget: int, style: str, skew: str, fmt: str,
                  num_partitions: int | None):
    """repartition(conv_id) -> sortWithinPartitions -> the one kernel."""
    if num_partitions is None:
        # explicit count pins the exchange: AQE's size-based coalescing
        # targets ~64MB partitions, which under-parallelizes a
        # CPU-bound Python kernel stage (bytes are small, work is not)
        sc = rows.sparkSession.sparkContext
        num_partitions = max(sc.defaultParallelism * 4, 8)
    dist = (rows.repartition(num_partitions, "conv_id")
                .sortWithinPartitions("conv_id", "turn_idx", "ts"))
    return dist.mapInPandas(make_preview_fn(budget, style, skew, fmt),
                            schema=PREVIEW_SCHEMA)


def conversation_previews_pushdown(df, *, budget: int = 500,
                                   style: str = "default",
                                   skew: str = "balanced",
                                   fmt: str = "json",
                                   num_partitions: int | None = None):
    """Shuffle-volume-optimized preview pipeline: the sampler keep-set is
    applied BEFORE the conv_id shuffle, so each conversation ships at most
    O(budget/2) turns instead of all of them — the Spark analogue of the
    reference's parse-time limit pushdown, at the shuffle boundary.

    PRECONDITION: turn_idx is the dense 0-based position within the
    conversation (the transcript schema contract, FIXTURES.md §1) — the
    keep-sets are position-deterministic functions of the cap, so the
    filter reproduces the kernel's sampling exactly. Applies directly for
    balanced (mix64 keep-set) and head (prefix) skew; tail needs the
    conversation length before filtering and dispatches to the two-pass
    conversation_previews_tail_pushdown.

    Per-conversation totals (length + char count) travel as one sentinel
    row per conversation through the same exchange as the kept rows.
    """
    from pyspark.sql import functions as F

    if skew == "tail":
        return conversation_previews_tail_pushdown(
            df, budget=budget, style=style, fmt=fmt,
            num_partitions=num_partitions)
    cap = max(max(budget, 1) // 2, 1)
    if skew == "head":
        keep = F.col("turn_idx") < cap
    else:
        from .sampling import default_kept_positions
        keep = F.col("turn_idx").isin(default_kept_positions(cap))
    # Duplicate (conv_id, turn_idx) deliveries merge last-write-wins in
    # the kernel, so the document length is the number of DISTINCT
    # turns — which, under this operator's dense-0-based-turn_idx
    # PRECONDITION (the same contract the keep-set filter relies on),
    # equals max(turn_idx) + 1. max() aggregates map-side (one tiny row
    # per conversation per task through the exchange); countDistinct
    # would shuffle every deduplicated (conv_id, turn_idx) pair — a
    # second full-width exchange, measured +60% wall at 8M turns. The
    # total then travels as ONE SENTINEL ROW per conversation
    # (turn_idx = -1, sorts first) unioned with the kept rows through
    # the same exchange — a totals sort-merge join would re-sort the
    # whole kept set (also measured: 32.3 s vs 22.5 s at 8M turns).
    # The sentinel also carries sum(length(text)) over ALL deliveries so
    # the kernel can report whole-conversation n_chars (LWW losers on
    # kept positions subtracted kernel-side — see make_preview_fn for
    # the exactness contract).
    return _kernel_stage(_with_sentinels(df.filter(keep), _conv_totals(df)),
                         budget, style, skew, fmt, num_partitions)


def _conv_totals(df):
    """Per-conversation totals: dense length (max(turn_idx)+1 under the
    dense contract) and char count over all delivered rows. Both
    aggregate map-side — one narrow row per conversation per task
    through the exchange."""
    from pyspark.sql import functions as F
    return df.groupBy("conv_id").agg(
        (F.max("turn_idx") + 1).cast("int").alias("_total"),
        F.sum(F.length("text")).cast("bigint").alias("_chars"))


def _with_sentinels(kept, totals):
    """Kept transcript rows (null `_total`/`_chars`) unioned with one
    sentinel row per conversation (turn_idx = -1, sorts before any data
    row of the conversation) carrying that conversation's totals."""
    from pyspark.sql import functions as F
    kept = (kept.withColumn("_total", F.lit(None).cast("int"))
                .withColumn("_chars", F.lit(None).cast("bigint")))
    sentinels = totals.select(
        "conv_id",
        F.lit(-1).cast("int").alias("turn_idx"),
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
        "_total", "_chars")
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts",
            "_total", "_chars"]
    return kept.select(*cols).unionByName(sentinels.select(*cols))


def conversation_previews_tail_pushdown(df, *, budget: int = 500,
                                        style: str = "default",
                                        fmt: str = "json",
                                        num_partitions: int | None = None):
    """Tail-skew limit pushdown (two-pass). Tail kept-ness depends on the
    conversation length, so unlike balanced/head the keep-set cannot be a
    static scan filter. Pass 1 computes per-conversation totals (map-side
    combined max/sum — narrow rows); pass 2 joins the totals back and
    keeps only `turn_idx >= total - cap` BEFORE the conv_id exchange, so
    the kernel shuffle ships O(cap) turns per conversation.

    Join strategy is left to AQE. OBSERVED at sf0.1 (64k conversations):
    AQE keeps a sort-merge join — the totals exchange is narrow and the
    df-side exchange is the same width the full plan pays anyway, so the
    measured 1.1-1.2x win over the full plan comes from bounding the
    sort + Arrow + kernel input to O(cap) turns per conversation, not
    from avoiding the shuffle. When AQE's runtime stats put the totals
    under the broadcast threshold it upgrades to a broadcast join and
    the df shuffle is avoided entirely (the pre-shuffle pruning win); no
    hint is forced — a forced broadcast of a per-conversation table
    would OOM at scale (the top_terms lesson). Byte-equal to
    conversation_previews_full(skew="tail") (tested on the snapshot
    matrix incl. the 50k-turn hot conversation)."""
    from pyspark.sql import functions as F

    cap = max(max(budget, 1) // 2, 1)
    totals = _conv_totals(df)
    kept = (df.join(totals.select("conv_id",
                                  F.col("_total").alias("_tt")),
                    "conv_id")
              .filter(F.col("turn_idx") >= F.col("_tt") - cap)
              .drop("_tt"))
    return _kernel_stage(_with_sentinels(kept, totals),
                         budget, style, "tail", fmt, num_partitions)


# auto-dispatch threshold: the pushdown plan pays a totals pre-scan (one
# map-side aggregate; balanced/head) or a totals join (tail), and wins by
# pruning the kernel exchange to O(cap) turns per conversation. Measured
# A/B (scripts/longconv_ab.py): ~16-turn conversations leave nothing to
# prune and the pre-scan is pure overhead (+10-19%); 2000-turn
# conversations win 1.4x. Require at least this fraction of shuffled rows
# pruned before choosing the pushdown plan.
PUSHDOWN_MIN_PRUNE = 0.5

# decision memo keyed by (analyzed-plan semantic hash, cap, keep-shape):
# a resident pipeline re-previews the same table many times and the
# decision is a pure function of the input plan — don't re-pay the stats
# scan per call. Bounded (decisions are tiny); cleared via
# clear_plan_cache(). Caveat: files appended to a source dir between
# calls are invisible to the memo until it is cleared — acceptable for a
# dispatch heuristic (both plans are byte-equal).
_PLAN_DECISIONS: dict = {}


def clear_plan_cache() -> None:
    _PLAN_DECISIONS.clear()


def choose_preview_plan(df, *, budget: int = 500,
                        skew: str = "balanced") -> str:
    """Pick 'pushdown' or 'full' from input statistics: the EXACT
    fraction of rows the keep-set filter would prune — the quantity the
    pushdown plan's benefit is proportional to. One map-side-combined
    avg() over a boolean of the single turn_idx column (column-pruned at
    the scan — far cheaper than the pipeline it steers); correctly
    row-weighted, so one mega-conversation is enough to tip the decision
    while a short-conversation bulk keeps the full plan. For tail skew,
    `turn_idx < cap` counts exactly min(cap, len) rows per conversation —
    the same count the last-cap keep-set retains — so the statistic is
    exact for all three skews. At deployment scale this comes from a
    maintained table-stats aggregate rather than a per-query scan."""
    from pyspark.sql import functions as F
    cap = max(max(budget, 1) // 2, 1)
    shape = "prefix" if skew in ("head", "tail") else "balanced"
    try:
        key = (df._jdf.queryExecution().analyzed().semanticHash(),
               cap, shape)
    except Exception:
        key = None
    if key is not None and key in _PLAN_DECISIONS:
        return _PLAN_DECISIONS[key]
    if shape == "prefix":
        keep = F.col("turn_idx") < cap
    else:
        from .sampling import default_kept_positions
        keep = F.col("turn_idx").isin(default_kept_positions(cap))
    kept_frac = df.agg(F.avg(keep.cast("double"))).first()[0]
    if kept_frac is None:
        plan = "full"
    else:
        plan = ("pushdown" if 1.0 - float(kept_frac) > PUSHDOWN_MIN_PRUNE
                else "full")
    if key is not None:
        if len(_PLAN_DECISIONS) >= 1024:  # long-lived-service backstop
            _PLAN_DECISIONS.clear()
        _PLAN_DECISIONS[key] = plan
    return plan


def conversation_previews(df, *, budget: int = 500, style: str = "default",
                          skew: str = "balanced", fmt: str = "json",
                          num_partitions: int | None = None,
                          pushdown: bool | str = "auto"):
    """DataFrame[conv_id, turn_idx, role, text, tool, ts] ->
    DataFrame[conv_id, preview, n_turns, n_chars, preview_bytes].

    Default entry point. pushdown="auto" (default) chooses the plan from
    input statistics (choose_preview_plan): the limit-pushdown pipeline
    (sampler keep-set filtered BEFORE the conv_id shuffle — the
    reference's parse-time limit pushdown, headson
    src/samplers/default.rs:131-217, realized at the shuffle boundary)
    when conversations are long enough that pruning pays for its totals
    pre-scan, else the single-exchange full pipeline. At 100x scale the
    full pipeline ships every turn of every conversation through the
    exchange, the pushdown one ships O(budget/2) turns per conversation
    and structurally bounds the mapInPandas carry buffer. pushdown=True
    (or "pushdown") forces the pushdown plan (all skews, incl. the
    two-pass tail variant); pushdown=False (or "full") forces the
    full-shuffle pipeline.

    n_chars exactness caveat under auto dispatch: the pushdown plan's
    n_chars is an upper bound when a NON-kept position receives
    duplicate deliveries (the sentinel totals count every delivered
    row's chars; LWW-loser lengths are only subtracted for kept
    positions — see conversation_previews_pushdown). The full plan is
    always exact. So on inputs with duplicate deliveries outside the
    keep-set, n_chars can differ by plan choice; preview/n_turns never
    do. Pin pushdown=False where exact n_chars matters more than the
    pruned shuffle."""
    if pushdown == "auto":
        plan = choose_preview_plan(df, budget=budget, skew=skew)
    elif pushdown in (True, False, "pushdown", "full"):
        plan = "pushdown" if pushdown in (True, "pushdown") else "full"
    else:
        raise ValueError(
            f"pushdown must be True/False/'pushdown'/'full'/'auto', "
            f"got {pushdown!r}")
    if plan == "pushdown":
        return conversation_previews_pushdown(
            df, budget=budget, style=style, skew=skew, fmt=fmt,
            num_partitions=num_partitions)
    return conversation_previews_full(df, budget=budget, style=style,
                                      skew=skew, fmt=fmt,
                                      num_partitions=num_partitions)


def conversation_previews_full(df, *, budget: int = 500,
                               style: str = "default",
                               skew: str = "balanced", fmt: str = "json",
                               num_partitions: int | None = None):
    """Full-shuffle preview pipeline: one exchange carrying every turn,
    sampling inside the kernel. Needed for tail skew (the keep-set
    depends on conversation length) and kept for A/B benchmarking.
    """
    return _kernel_stage(df, budget, style, skew, fmt, num_partitions)
