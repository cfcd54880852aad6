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


def _summarize_conv(pdf: pd.DataFrame, cfg, prio, budget) -> tuple:
    # last-write-wins per turn_idx by ts, then stable order by turn_idx
    pdf = (pdf.sort_values(["turn_idx", "ts"], kind="stable")
              .drop_duplicates(subset=["turn_idx"], keep="last"))
    roles = pdf["role"].tolist()
    texts = pdf["text"].tolist()
    tools = pdf["tool"].tolist()
    # turns array sampled before building nodes (pre-parse limit pushdown)
    preview = render_conversation(roles, texts, tools, cfg, prio, budget)
    n_chars = int(sum(len(t) for t in texts))
    return (len(roles), n_chars, preview)


def make_preview_fn(budget: int = 500, style: str = "default",
                    skew: str = "balanced", fmt: str = "json"):
    """Build the mapInPandas kernel closure (pickled to executors)."""
    cfg, prio, budget = make_configs(format=fmt, style=style,
                                     character_budget=budget, skew=skew)

    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # rows arrive sorted by (conv_id, turn_idx, ts) — see
        # conversation_previews; concat(carry, batch) preserves that order
        carry: pd.DataFrame | None = None

        def flush(pdf: pd.DataFrame) -> pd.DataFrame:
            conv = pdf["conv_id"].to_numpy()
            tidx = pdf["turn_idx"].to_numpy()
            # vectorized last-write-wins: rows are ts-ascending within
            # (conv_id, turn_idx), so keep each run's last row
            keep = np.empty(len(conv), dtype=bool)
            keep[-1] = True
            keep[:-1] = (conv[:-1] != conv[1:]) | (tidx[:-1] != tidx[1:])
            if not keep.all():
                pdf = pdf[keep]
                conv = conv[keep]
            roles = pdf["role"].tolist()
            texts = pdf["text"].tolist()
            tools = pdf["tool"].tolist()
            # conversation boundaries on the sorted conv_id column
            bounds = np.flatnonzero(conv[1:] != conv[:-1]) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [len(conv)]))
            out = {"conv_id": [], "preview": [], "n_turns": [],
                   "n_chars": [], "preview_bytes": []}
            for s, e in zip(starts, ends):
                preview = render_conversation(
                    roles[s:e], texts[s:e], tools[s:e], cfg, prio, budget)
                out["conv_id"].append(conv[s])
                out["preview"].append(preview)
                out["n_turns"].append(e - s)
                out["n_chars"].append(
                    int(sum(len(t) for t in texts[s:e])))
                out["preview_bytes"].append(len(preview.encode("utf-8")))
            return pd.DataFrame(out)

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


def make_presampled_preview_fn(budget: int, style: str, skew: str,
                               fmt: str):
    """mapInPandas kernel for pushed-down input: rows are already the
    sampler keep-set, PLUS one sentinel row per conversation
    (turn_idx == -1, sorted first) whose `_total` / `_chars` columns
    carry the pre-filter conversation length and the sum of text lengths
    over ALL delivered rows. The sentinel travels through the same single
    exchange as the data — no totals join, so the pushdown plan costs the
    same as the full plan even when nothing prunes.

    n_chars semantics (matches the full pipeline: total chars over the
    LWW-winning turns of the WHOLE conversation, not just the kept set):
    n_chars = sentinel _chars minus the lengths of duplicate-loser
    deliveries. Losers on KEPT positions are visible here (the keep-set
    filter passes every delivery of a kept turn_idx) and are subtracted
    exactly; a duplicate delivery of a NON-kept turn is invisible
    post-filter, so its loser length stays counted — n_chars is exact
    whenever duplicate deliveries land on keep-set positions (or nowhere)
    and an upper bound otherwise."""
    import numpy as np
    cfg, prio, budget = make_configs(format=fmt, style=style,
                                     character_budget=budget, skew=skew)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None

        def flush(pdf: pd.DataFrame) -> pd.DataFrame:
            conv = pdf["conv_id"].to_numpy()
            tidx = pdf["turn_idx"].to_numpy()
            keep = np.empty(len(conv), dtype=bool)
            keep[-1] = True
            keep[:-1] = (conv[:-1] != conv[1:]) | (tidx[:-1] != tidx[1:])
            loser_chars: dict = {}
            if not keep.all():
                lose = pdf[~keep]
                loser_chars = {
                    c: int(s) for c, s in lose.groupby("conv_id")["text"]
                    .apply(lambda col: sum(len(x) for x in col
                                           if x is not None)).items()}
                pdf = pdf[keep]
                conv = conv[keep]
                tidx = tidx[keep]
            roles = pdf["role"].tolist()
            texts = pdf["text"].tolist()
            tools = pdf["tool"].tolist()
            totals = pdf["_total"].to_numpy()
            charss = pdf["_chars"].to_numpy()
            bounds = np.flatnonzero(conv[1:] != conv[:-1]) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [len(conv)]))
            out = {"conv_id": [], "preview": [], "n_turns": [],
                   "n_chars": [], "preview_bytes": []}
            for s, e in zip(starts, ends):
                cid = conv[s]
                chars_all = None
                if tidx[s] == -1:  # sentinel first within the group
                    total = int(totals[s])
                    c = charss[s]
                    # guard both null encodings (float NaN / object None)
                    if c is not None and c == c:
                        chars_all = int(c)
                    s += 1
                else:  # defensive: sentinel missing, count what we have
                    total = e - s
                preview = render_conversation(
                    roles[s:e], texts[s:e], tools[s:e], cfg, prio, budget,
                    pre_sampled_indices=[int(x) for x in tidx[s:e]],
                    pre_sampled_total=total)
                if chars_all is not None:
                    n_chars = chars_all - loser_chars.get(cid, 0)
                else:
                    n_chars = int(sum(len(t) for t in texts[s:e]))
                out["conv_id"].append(cid)
                out["preview"].append(preview)
                out["n_turns"].append(total)
                out["n_chars"].append(n_chars)
                out["preview_bytes"].append(len(preview.encode("utf-8")))
            return pd.DataFrame(out)

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            last = pdf["conv_id"].iloc[-1]
            vals = pdf["conv_id"].to_numpy()
            cut = int(np.searchsorted(vals, last, side="left"))
            carry = pdf.iloc[cut:]
            ready = pdf.iloc[:cut]
            if len(ready):
                yield flush(ready)
        if carry is not None and len(carry):
            yield flush(carry)

    return fn


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
    # kept positions subtracted kernel-side — see
    # make_presampled_preview_fn for the exactness contract).
    kept = (df.filter(keep)
              .withColumn("_total", F.lit(None).cast("int"))
              .withColumn("_chars", F.lit(None).cast("bigint")))
    sentinels = _total_sentinels(df)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts",
            "_total", "_chars"]
    rows = kept.select(*cols).unionByName(sentinels.select(*cols))
    if num_partitions is None:
        sc = df.sparkSession.sparkContext
        num_partitions = max(sc.defaultParallelism * 4, 8)
    dist = (rows.repartition(num_partitions, "conv_id")
                .sortWithinPartitions("conv_id", "turn_idx", "ts"))
    return dist.mapInPandas(
        make_presampled_preview_fn(budget, style, skew, fmt),
        schema=PREVIEW_SCHEMA)


def _conv_totals(df):
    """Per-conversation totals: dense length (max(turn_idx)+1 under the
    dense contract) and char count over all delivered rows. Both
    aggregate map-side — one narrow row per conversation per task
    through the exchange."""
    from pyspark.sql import functions as F
    return df.groupBy("conv_id").agg(
        (F.max("turn_idx") + 1).cast("int").alias("_total"),
        F.sum(F.length("text")).cast("bigint").alias("_chars"))


def _total_sentinels(df):
    """Totals as sentinel rows (turn_idx = -1, sorts before any data row
    of the conversation) in the transcript row shape."""
    from pyspark.sql import functions as F
    return _conv_totals(df).select(
        "conv_id",
        F.lit(-1).cast("int").alias("turn_idx"),
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
        "_total", "_chars")


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
              .drop("_tt")
              .withColumn("_total", F.lit(None).cast("int"))
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
    rows = kept.select(*cols).unionByName(sentinels.select(*cols))
    if num_partitions is None:
        sc = df.sparkSession.sparkContext
        num_partitions = max(sc.defaultParallelism * 4, 8)
    dist = (rows.repartition(num_partitions, "conv_id")
                .sortWithinPartitions("conv_id", "turn_idx", "ts"))
    return dist.mapInPandas(
        make_presampled_preview_fn(budget, style, "tail", fmt),
        schema=PREVIEW_SCHEMA)


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


def choose_preview_plan(df, *, budget: int = 500, skew: str = "balanced",
                        min_prune: float = PUSHDOWN_MIN_PRUNE,
                        use_cache: bool = True) -> str:
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
    key = None
    if use_cache:
        try:
            key = (df._jdf.queryExecution().analyzed().semanticHash(),
                   cap, shape, min_prune)
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
        plan = ("pushdown" if (1.0 - float(kept_frac)) > min_prune
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
    if num_partitions is None:
        # explicit count pins the exchange: AQE's size-based coalescing
        # targets ~64MB partitions, which under-parallelizes a
        # CPU-bound Python kernel stage (bytes are small, work is not)
        sc = df.sparkSession.sparkContext
        num_partitions = max(sc.defaultParallelism * 4, 8)
    dist = df.repartition(num_partitions, "conv_id")
    dist = dist.sortWithinPartitions("conv_id", "turn_idx", "ts")
    return dist.mapInPandas(
        make_preview_fn(budget, style, skew, fmt), schema=PREVIEW_SCHEMA)


def conversation_previews_grouped(df, *, budget: int = 500,
                                  style: str = "default",
                                  skew: str = "balanced", fmt: str = "json"):
    """applyInPandas variant (one UDF call per conversation) — kept for
    A/B benchmarking against the mapInPandas pipeline."""
    cfg, prio, budget_ = make_configs(format=fmt, style=style,
                                      character_budget=budget, skew=skew)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        n_turns, n_chars, preview = _summarize_conv(pdf, cfg, prio, budget_)
        return pd.DataFrame({
            "conv_id": [pdf["conv_id"].iloc[0]],
            "preview": [preview],
            "n_turns": [n_turns],
            "n_chars": [n_chars],
            "preview_bytes": [len(preview.encode("utf-8"))]})

    return df.groupBy("conv_id").applyInPandas(fn, schema=PREVIEW_SCHEMA)
