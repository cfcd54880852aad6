"""Structured Streaming preview engine (north_rule core).

Pipeline:

    readStream (file/rate/Iceberg source)
      -> withWatermark("ts", late_gap)
      -> groupBy(group key), applyInPandasWithState: merge+preview kernel
      -> foreachBatch idempotent keyed sink (exactly-once)

The group key is pmod(xxhash64(conv_id), n_buckets) or conv_id itself;
either way one function merges and renders every conversation in the
group. Per-conversation state holds the merged turn map (the "stateful
join" on (conv_id, turn_idx): late/duplicate turns merge last-write-wins
by ts), with stable turn ordering enforced before budget allocation.
Conversation sessions close via event-time timeout (session-window
semantics hosted inside the stateful operator — declarative
session_window cannot hold arbitrary state). Checkpointed and resumable;
replays are idempotent because the sink MERGEs on conv_id and skips
already-committed batch ids.

Scale notes:
- state per conversation is O(array_cap) once the turn cap is applied;
  the watermark bounds how long state lives
- conv_id skew: the state shuffle hashes conv_id; a hot conversation is
  bounded by the turn cap + kernel SAFETY_CAP; upstream salting helper in
  headson_spark.plans.salting pre-aggregates oversized conversations
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterator, Tuple

import pandas as pd

from ..kernel.api import make_configs, render_conversation

OUTPUT_SCHEMA = ("conv_id string, preview string, n_turns int, "
                 "last_ts timestamp, final boolean")


def _render_from_turn_map(turn_map: dict, cfg, prio, budget) -> str:
    idxs = sorted(turn_map, key=int)
    return render_conversation([turn_map[i][0] for i in idxs],
                               [turn_map[i][1] for i in idxs],
                               [turn_map[i][2] for i in idxs],
                               cfg, prio, budget)


# --------------------------------------------------------------------------
# budget-bounded conversation state (balanced/head skew)
#
# The sampler keep-sets are prefix-closed position sets K(cap): for any
# conversation length L the rendered turns are {rank r in K : r < L}. A
# turn's rank (position among delivered turns) only GROWS as earlier late
# turns arrive, and equals its dense turn_idx once the conversation is
# complete. So a turn's content can ever be rendered iff
# [current_rank, turn_idx] intersects K — everything else is droppable,
# and state shrinks to O(cap) content entries + a seen-bitmap (1 bit per
# turn) instead of the full transcript. A 50k-turn conversation holds
# ~250 turn contents + 6.2 KB of bitmap in state instead of ~6 MB of
# JSON-encoded turns re-serialized every micro-batch.


def _keepset(prio, budget) -> list[int] | None:
    """Sorted keep-set positions for the active sampler, None for tail
    (tail kept-ness depends on final length — unbounded state path)."""
    from ..operators.sampling import default_kept_positions
    cap = prio["array_max_items"]
    if prio["prefer_tail_arrays"]:
        return None
    if prio["sampler"] == "head":
        return list(range(cap))
    return sorted(default_kept_positions(cap))


def _bits_set(bits: bytearray, idx: int) -> None:
    need = idx // 8 + 1
    if len(bits) < need:
        bits.extend(b"\x00" * (need - len(bits)))
    bits[idx // 8] |= 1 << (idx % 8)


def _bits_ranks(bits: bytes):
    """(total_set, rank array) — rank[i] = #set bits strictly below i."""
    import numpy as np
    arr = np.unpackbits(np.frombuffer(bytes(bits), dtype=np.uint8),
                        bitorder="little")
    cum = np.cumsum(arr)
    total = int(cum[-1]) if len(cum) else 0
    return total, cum - arr  # exclusive prefix sum


def _prune_kept(st: dict, keep: list[int]) -> None:
    """Drop turn contents that can never be rendered again: a turn at
    dense index i with current rank r is needed iff K ∩ [r, i] != ∅
    (rank grows monotonically toward i as missing earlier turns land)."""
    from bisect import bisect_left
    total, rank = _bits_ranks(st["b"])
    st["n"] = total
    kept = st["k"]
    drop = []
    for key in kept:
        i = int(key)
        r = int(rank[i])
        j = bisect_left(keep, r)
        if j >= len(keep) or keep[j] > i:
            drop.append(key)
    for key in drop:
        del kept[key]


def _render_bounded(st: dict, cfg, prio, budget,
                    keepset: set[int]) -> str:
    """Render from bounded state: turns whose CURRENT rank is in the
    keep-set, as the pre-sampled arena (byte-equal to the batch pipeline
    on the same delivered turns — the pushdown equivalence)."""
    total, rank = _bits_ranks(st["b"])
    picked = []
    for key, v in st["k"].items():
        i = int(key)
        r = int(rank[i])
        if r in keepset:
            picked.append((r, v))
    picked.sort()
    return render_conversation(
        [v[0] for _, v in picked], [v[1] for _, v in picked],
        [v[2] for _, v in picked], cfg, prio, budget,
        pre_sampled_indices=[r for r, _ in picked],
        pre_sampled_total=total)


def _st_new() -> dict:
    # v counts completed merge rounds for this conversation (drives the
    # every_k emission policy)
    return {"b": bytearray(), "k": {}, "mx": 0, "n": 0, "v": 0}


def _should_emit(policy: str, every: int, version: int) -> bool:
    """Intermediate-emission decision (final timeout emissions always
    fire). on_change: every update; on_close: never (the render itself is
    skipped — one render per conversation total); every_k: every k-th
    merge round that changed the conversation."""
    if policy == "on_change":
        return True
    if policy == "on_close":
        return False
    if policy == "every_k":
        return version % max(every, 1) == 0
    raise ValueError(f"unknown emit_policy: {policy!r}")


def _st_merge_cols(st: dict, tidxs, roles, texts, tools, ts_list,
                   max_idx: int = 100_000) -> bool:
    """LWW-merge pre-extracted column slices into bounded state; True if
    any content or count changed.

    max_idx guards the seen-bitmap against contract-violating rows: the
    bitmap is O(max turn_idx / 8) bytes of per-conversation state, so a
    poisoned turn_idx of e.g. 2^31 would balloon state to 256 MB and a
    negative one would corrupt the bitmap via Python negative indexing.
    Rows outside [0, max_idx) are dropped (same SAFETY_CAP posture as the
    reference, scoring.rs:3) rather than crashing the query."""
    kept = st["k"]
    bits = st["b"]
    changed = False
    for t_idx, role, text, tool, ts_us in zip(
            tidxs, roles, texts, tools, ts_list):
        if t_idx < 0 or t_idx >= max_idx:
            continue
        byte = t_idx // 8
        if byte >= len(bits) or not (bits[byte] >> (t_idx % 8)) & 1:
            _bits_set(bits, t_idx)
            changed = True
        key = str(t_idx)
        prev = kept.get(key)
        if prev is None or ts_us >= prev[3]:
            kept[key] = [role, text, tool, ts_us]
            changed = True
        if ts_us > st["mx"]:
            st["mx"] = ts_us
    return changed


BUCKET_STATE_SCHEMA = "blob binary, n_convs int"


def _bucket_encode(convs: dict) -> bytes:
    """Bucket state blob: pickle (protocol 5) of {conv_id: state dict}.
    Binary replaces the round-2..4 JSON+base64 format — the bitmap stays
    raw bytes (no 4/3 base64 inflation) and encode/decode drop the
    per-field JSON text scan, which was measurable per micro-batch at
    512 buckets. State blobs never leave the state store, so pickle's
    python-only format is fine here (the SINK stays parquet).

    SECURITY: pickle.loads executes attacker-chosen code, so unlike the
    old JSON format a tampered checkpoint/state directory compromises
    the executors on resume. Checkpoint dirs must be trusted (ACL'd to
    the job owner) — which Spark effectively requires anyway, since its
    own state/offset files are integrity-unprotected, but the blast
    radius here is code execution, not just wrong answers."""
    import pickle
    return pickle.dumps(convs, protocol=5)


def _bucket_decode(blob) -> dict:
    import pickle
    return pickle.loads(bytes(blob))


def make_bucketed_preview_fn(budget: int = 500, style: str = "default",
                             skew: str = "balanced", fmt: str = "json",
                             session_gap_ms: int = 600_000,
                             max_turns_in_state: int = 100_000,
                             emit_policy: str = "on_change",
                             emit_every: int = 8):
    """Build the applyInPandasWithState function (state schema
    BUCKET_STATE_SCHEMA, output OUTPUT_SCHEMA).

    The function ignores its group key and keeps one state dict per
    conversation inside the group's state blob, so any grouping key
    works provided each conversation falls in exactly one group:
    conv_id itself (one conversation per group) or
    pmod(xxhash64(conv_id), B), where ONE group invocation carries
    ~n_convs/B conversations and the per-group Python/Arrow/state-store
    machinery is amortized ~(n_convs/B)x. Sessions close per
    conversation: the group's timeout is armed at its earliest deadline
    and re-armed for the survivors.

    Trade-off of coalescing: a group's state blob is rewritten whenever
    any of its conversations change (write amplification ~group size).
    B tunes between per-group overhead (B too big) and amplification (B
    too small). Balanced/head skew keeps budget-bounded state per
    conversation (O(cap) contents + seen-bitmap — see the module
    helpers), which keeps the blob small even for mega-conversations;
    tail skew keeps the full turn map because tail kept-ness depends on
    the final length.

    emit_policy controls intermediate emissions (final session-close
    emissions always fire): "on_change" re-renders every changed
    conversation per micro-batch; "on_close" skips ALL intermediate
    renders (one render per conversation at session close — the
    throughput mode when only final previews matter); "every_k" renders
    a changed conversation only on its every emit_every-th CHANGED
    merge round. All policies converge to identical final (final=True)
    rows.
    """
    if emit_policy not in ("on_change", "on_close", "every_k"):
        raise ValueError(f"unknown emit_policy: {emit_policy!r}")
    cfg, prio, budget = make_configs(format=fmt, style=style,
                                     character_budget=budget, skew=skew)
    keep = _keepset(prio, budget)
    keepset = set(keep) if keep is not None else None

    def render(st: dict) -> str:
        if keep is not None:
            return _render_bounded(st, cfg, prio, budget, keepset)
        return _render_from_turn_map(st["k"], cfg, prio, budget)

    def n_turns_of(st: dict) -> int:
        return st["n"] if keep is not None else len(st["k"])

    def emit(rows):
        return pd.DataFrame({
            "conv_id": [r[0] for r in rows],
            "preview": [r[1] for r in rows],
            "n_turns": [r[2] for r in rows],
            "last_ts": pd.to_datetime([r[3] for r in rows], unit="us",
                                      utc=True),
            "final": [r[4] for r in rows]})

    def _arm_timeout(state, convs, wm_ms):
        # earliest session deadline in the bucket; EventTimeTimeout
        # requires a timestamp strictly beyond the current watermark
        deadline = min(c["mx"] // 1000 for c in convs.values()) \
            + session_gap_ms
        state.setTimeoutTimestamp(max(deadline, wm_ms + 1))

    def fn(key: Tuple[int], pdf_iter: Iterator[pd.DataFrame],
           state: Any) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            blob, _n = state.get
            convs = _bucket_decode(blob)
            closed, remaining = [], {}
            for cid, st in convs.items():
                if st["mx"] // 1000 + session_gap_ms <= wm_ms:
                    closed.append((cid, render(st), n_turns_of(st),
                                   st["mx"], True))
                else:
                    remaining[cid] = st
            if remaining:
                state.update((_bucket_encode(remaining), len(remaining)))
                _arm_timeout(state, remaining, wm_ms)
            else:
                state.remove()
            if closed:
                yield emit(closed)
            return

        convs = _bucket_decode(state.get[0]) if state.exists else {}
        changed: set[str] = set()
        import numpy as np
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            # merge per conversation WITHOUT pandas groupby: profiling
            # showed per-group DataFrame slicing + column boxing was
            # ~75% of the merge path at bench shape (64k convs / batch).
            # Extract columns once, stable-sort by conv_id (preserving
            # arrival order within each conversation — the LWW tie
            # contract), then hand list slices to _st_merge_cols.
            spdf = pdf.sort_values("conv_id", kind="stable")
            conv = spdf["conv_id"].to_numpy()
            tidxs = spdf["turn_idx"].tolist()
            roles = spdf["role"].tolist()
            texts = spdf["text"].tolist()
            tools = spdf["tool"].tolist()
            ts_list = (spdf["ts"].to_numpy("datetime64[ns]")
                       .astype("int64") // 1_000).tolist()
            bnd = np.flatnonzero(conv[1:] != conv[:-1]) + 1
            starts = np.concatenate(([0], bnd))
            ends = np.concatenate((bnd, [len(conv)]))
            for s, e in zip(starts.tolist(), ends.tolist()):
                cid = conv[s]
                st = convs.get(cid)
                if st is None:
                    st = convs[cid] = _st_new()
                if _st_merge_cols(st, tidxs[s:e], roles[s:e],
                                  texts[s:e], tools[s:e], ts_list[s:e],
                                  max_turns_in_state):
                    changed.add(cid)
        for cid in changed:
            st = convs[cid]
            st["v"] = st.get("v", 0) + 1
            if keep is not None:
                _prune_kept(st, keep)
            elif len(st["k"]) > max_turns_in_state:
                ks = sorted(st["k"], key=int)[:max_turns_in_state]
                st["k"] = {k: st["k"][k] for k in ks}
        state.update((_bucket_encode(convs), len(convs)))
        _arm_timeout(state, convs, wm_ms)
        if changed:
            rows = []
            for cid in sorted(changed):
                st = convs[cid]
                if not _should_emit(emit_policy, emit_every, st["v"]):
                    continue
                rows.append((cid, render(st), n_turns_of(st), st["mx"],
                             False))
            if rows:
                yield emit(rows)

    return fn


def streaming_previews(stream_df, *, budget: int = 500,
                       style: str = "default", skew: str = "balanced",
                       fmt: str = "json", watermark: str = "10 minutes",
                       session_gap_ms: int = 600_000,
                       n_buckets: int | None = 512,
                       emit_policy: str = "on_change",
                       emit_every: int = 8):
    """stream_df: streaming DataFrame with the transcript schema.

    n_buckets picks the stateful group key: a number groups by
    pmod(xxhash64(conv_id), n_buckets) (bucketed state coalescing, the
    throughput path — per-group applyInPandasWithState overhead is
    amortized across ~n_convs/n_buckets conversations per group); None
    groups by conv_id. Both run make_bucketed_preview_fn and produce
    identical rows.

    emit_policy: "on_change" (default) / "on_close" / "every_k" — see
    make_bucketed_preview_fn. All policies agree on final (final=True)
    rows; on_close trades intermediate visibility for throughput.

    CHECKPOINT COMPATIBILITY: the group key and the state schema are
    baked into a checkpoint, so resume with a NEW checkpoint dir after
    any of these changes:
    - changing n_buckets (including to or from None) between runs;
    - upgrading a pre-round-2 job (conv_id key, turn-map JSON blob);
    - upgrading a pre-round-5 bucketed job (the blob moved from a
      JSON+base64 string column to a pickled binary column);
    - upgrading a per-conversation (n_buckets=None) job written before
      the per-conversation engine was folded into this one: its state
      was a JSON string ('turns_json string, max_ts_us long,
      emitted_version int') and is now BUCKET_STATE_SCHEMA's pickled
      binary blob, which Spark's state value-schema validation rejects
      on resume.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    fn = make_bucketed_preview_fn(budget, style, skew, fmt, session_gap_ms,
                                  emit_policy=emit_policy,
                                  emit_every=emit_every)
    df = stream_df.withWatermark("ts", watermark)
    if n_buckets:
        df = df.withColumn("_bucket", F.pmod(F.xxhash64("conv_id"),
                                             F.lit(n_buckets)).cast("long"))
    return (df
            .groupBy("_bucket" if n_buckets else "conv_id")
            .applyInPandasWithState(
                fn, OUTPUT_SCHEMA, BUCKET_STATE_SCHEMA, "update",
                GroupStateTimeout.EventTimeTimeout))


# --------------------------------------------------------------------------
# idempotent keyed sink (exactly-once without an Iceberg catalog)


class KeyedParquetSink:
    """foreachBatch sink with exactly-once semantics: per-batch parquet
    delta + a committed-batch manifest. Replayed batch ids (post-restart
    re-execution) are skipped, making commits idempotent; reads
    reconstruct latest-per-key (MERGE semantics). With an Iceberg catalog
    this maps 1:1 onto MERGE INTO keyed by conv_id.

    Lineage + metrics: every row carries (_batch_id, _partition_id), and
    each commit records per-batch metrics (rows, files, bytes) in a
    sidecar manifest, read from the written parquet footers — no extra
    Spark action on the micro-batch hot path. The metrics sidecar is
    advisory (Iceberg snapshot-summary analog); the commit point remains
    the batch-id manifest, written last — a crash between the two leaves
    an uncommitted metrics row that the replay overwrites, so metrics
    stay consistent with committed batches and exactly-once is
    unaffected."""

    def __init__(self, path: str, key: str = "conv_id",
                 order_col: str = "last_ts"):
        self.path = path
        self.key = key
        self.order_col = order_col
        os.makedirs(path, exist_ok=True)

    @property
    def manifest(self) -> str:
        return os.path.join(self.path, "_committed_batches.json")

    @property
    def metrics_manifest(self) -> str:
        return os.path.join(self.path, "_batch_metrics.json")

    def committed(self) -> set[int]:
        if os.path.exists(self.manifest):
            with open(self.manifest) as f:
                return set(json.load(f))
        return set()

    def metrics(self) -> dict[int, dict]:
        """Per-committed-batch metrics {batch_id: {rows, files, bytes}}.
        Batches committed by a pre-metrics writer simply have no row."""
        if os.path.exists(self.metrics_manifest):
            with open(self.metrics_manifest) as f:
                return {int(k): v for k, v in json.load(f).items()}
        return {}

    @staticmethod
    def _dir_metrics(out: str) -> dict:
        """rows/files/bytes for one batch dir from parquet footers only."""
        import pyarrow.parquet as pq
        rows = files = nbytes = 0
        for name in os.listdir(out):
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(out, name)
            rows += pq.ParquetFile(p).metadata.num_rows
            files += 1
            nbytes += os.path.getsize(p)
        return {"rows": rows, "files": files, "bytes": nbytes}

    def __call__(self, batch_df, batch_id: int):
        if batch_id in self.committed():
            return  # replay after restart: already durable, skip
        from pyspark.sql import functions as F
        out = os.path.join(self.path, f"batch={batch_id}")
        (batch_df
         .withColumn("_batch_id", F.lit(batch_id))
         .withColumn("_partition_id", F.spark_partition_id())
         .write.mode("overwrite").parquet(out))
        done = self.committed()
        done.add(batch_id)
        stats = self.metrics()
        stats[batch_id] = self._dir_metrics(out)
        tmp = self.metrics_manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({str(k): v for k, v in sorted(stats.items())}, f)
        os.replace(tmp, self.metrics_manifest)
        tmp = self.manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(sorted(done), f)
        os.replace(tmp, self.manifest)  # atomic commit point

    def read_latest(self, spark):
        """Latest row per key across committed batches (MERGE view)."""
        from pyspark.sql import Window, functions as F
        committed = self.committed()
        if not committed:
            return None
        paths = [os.path.join(self.path, f"batch={b}") for b in committed]
        paths = [p for p in paths if os.path.exists(p)]
        df = spark.read.parquet(*paths)
        w = Window.partitionBy(self.key).orderBy(
            F.desc("_batch_id"), F.desc(self.order_col))
        return (df.withColumn("_rn", F.row_number().over(w))
                  .filter("_rn = 1").drop("_rn"))


def run_stream(spark, source_dir: str, sink: KeyedParquetSink,
               checkpoint_dir: str, *, budget: int = 500,
               style: str = "default", skew: str = "balanced",
               watermark: str = "10 minutes",
               session_gap_ms: int = 600_000, available_now: bool = True,
               max_files_per_trigger: int | None = None,
               n_buckets: int | None = 512,
               emit_policy: str = "on_change", emit_every: int = 8):
    """File-source streaming job (swap readStream.format('iceberg') for an
    Iceberg catalog deployment — same plan otherwise).

    checkpoint_dir must be NEW when changing n_buckets or upgrading
    across a state format change — see streaming_previews."""
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    reader = (spark.readStream.schema(schema))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(source_dir)
    out = streaming_previews(src, budget=budget, style=style, skew=skew,
                             watermark=watermark,
                             session_gap_ms=session_gap_ms,
                             n_buckets=n_buckets,
                             emit_policy=emit_policy,
                             emit_every=emit_every)
    writer = (out.writeStream
              .foreachBatch(sink)
              .outputMode("update")
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = writer.trigger(availableNow=True).start()
    else:
        q = writer.start()
    return q
