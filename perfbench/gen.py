"""Seeded transcript generator for the benchmark workloads.

Every table has the transcript schema the engine reads
(conv_id string, turn_idx int32, role string, text string, tool string,
ts timestamp[us, UTC]) and is written as plain parquet files; the engine
sees nothing else. The same seed gives the same rows. Stream timestamps
are offsets from a wall-clock origin, so only that origin differs between
two runs of one seed.

Traffic dimensions covered (all drawn from one numpy Generator):
- conversation length: lognormal around 16 turns (short), 1k-5k turns
  (long), plus one hot conv_id of ~50k turns on the long workload;
- text length: ~1 turn in 20 runs past the kernel's 500-grapheme cap;
- ~1 turn in 10 carries non-ASCII text (ZWJ emoji, flags, combining
  marks, CJK);
- ~1 turn in 100 is re-delivered later with a strictly later ts and new
  text, so last-write-wins decides the preview;
- stream only: conversations interleave across files, and each row's ts
  is its scheduled creation time.

Run as a script it is the live-phase generator of the stream workload:
one process that writes one file per interval on a fixed schedule (see
`live_main`).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC"))])

# 2026-01-01T00:00:00Z: origin of the backfill tables' event time
EPOCH_US = 1_767_225_600_000_000

LONG_FRAC = 0.05        # turns whose text runs past the 500-grapheme cap
NON_ASCII_FRAC = 0.10   # turns carrying non-ASCII text
REDELIVER_FRAC = 0.01   # turns delivered a second time, later, edited

_WORDS = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
          "eiusmod tempor incididunt ut labore et dolore magna aliqua enim "
          "ad minim veniam quis nostrud exercitation ullamco laboris nisi "
          "aliquip ex ea commodo consequat duis aute irure in reprehenderit "
          "voluptate velit esse cillum fugiat nulla pariatur excepteur sint "
          "occaecat cupidatat non proident sunt culpa qui officia deserunt "
          "mollit anim id est laborum json spark arrow budget preview "
          "stream state sink kernel").split()

_NON_ASCII = ["👍🏽 tone", "👨‍👩‍👧‍👦 family", "🇺🇸🇫🇷🇯🇵 flags",
              "é combining", "🙂🙃 faces", "🧑‍💻 coder",
              "日本語のテキスト", "中文预览", "Ünïcödé ß", "κείμενο",
              "текст превью", "عربى نص"]

_ROLES = np.array(["user", "assistant", "tool"], dtype=object)


class _TextPool:
    """Texts are slices of one seeded word corpus: cheap to cut, and
    every turn still differs from its neighbours."""

    def __init__(self, rng: np.random.Generator, n_chars: int = 1 << 20):
        words = rng.choice(np.array(_WORDS, dtype=object), n_chars // 5)
        self.corpus = " ".join(words.tolist())[:n_chars]
        self.rng = rng

    def texts(self, n: int) -> list[str]:
        rng = self.rng
        lengths = np.where(rng.random(n) < LONG_FRAC,
                           rng.integers(520, 2500, n),
                           np.clip(rng.lognormal(4.0, 0.8, n), 1, 480)
                           ).astype(np.int64)
        starts = rng.integers(0, len(self.corpus) - 2600, n)
        uni = rng.random(n) < NON_ASCII_FRAC
        picks = rng.integers(0, len(_NON_ASCII), n)
        c = self.corpus
        out = []
        for s, ln, u, p in zip(starts.tolist(), lengths.tolist(),
                               uni.tolist(), picks.tolist()):
            t = c[s:s + ln]
            out.append(_NON_ASCII[p] + " " + t if u else t)
        return out


def _turn_rows(rng: np.random.Generator, pool: _TextPool,
               conv_ids: list[str], lengths: np.ndarray,
               starts_us: np.ndarray, gap_us: tuple[int, int]) -> dict:
    """All turns of the given conversations (dense turn_idx 0..len-1,
    ts strictly increasing within a conversation) plus re-deliveries."""
    lengths = np.asarray(lengths, dtype=np.int64)
    n = int(lengths.sum())
    conv_of = np.repeat(np.arange(len(conv_ids)), lengths)
    first = np.repeat(np.cumsum(lengths) - lengths, lengths)
    turn_idx = np.arange(n) - first
    gaps = rng.integers(gap_us[0], gap_us[1], n)
    gaps[turn_idx == 0] = 0
    # per-conversation cumulative gaps give strictly increasing ts
    csum = np.cumsum(gaps)
    ts = np.repeat(starts_us, lengths) + csum - csum[first]
    role_pick = (turn_idx % 2 + (rng.random(n) < 0.15) * 2) % 3
    roles = _ROLES[role_pick]
    tool_n = rng.integers(0, 8, n)
    tools = np.where(role_pick == 2,
                     np.char.add("tool_", tool_n.astype(str)).astype(object),
                     "")
    texts = pool.texts(n)
    cid = np.array(conv_ids, dtype=object)[conv_of]
    # re-deliveries: same (conv_id, turn_idx), strictly later ts, new text
    red = np.flatnonzero(rng.random(n) < REDELIVER_FRAC)
    red_ts = ts[red] + rng.integers(1_000, 5_000_000, len(red))
    red_text = ["edited: " + t for t in pool.texts(len(red))]
    return {
        "conv_id": np.concatenate([cid, cid[red]]),
        "turn_idx": np.concatenate([turn_idx, turn_idx[red]]).astype(
            np.int32),
        "role": np.concatenate([roles, roles[red]]),
        "text": texts + red_text,
        "tool": np.concatenate([tools, tools[red]]),
        "ts": np.concatenate([ts, red_ts]),
    }


def _table(cols: dict, order: np.ndarray | None = None) -> pa.Table:
    if order is None:
        order = np.argsort(cols["ts"], kind="stable")
    return pa.table({
        "conv_id": pa.array(cols["conv_id"][order].tolist(), pa.string()),
        "turn_idx": pa.array(cols["turn_idx"][order], pa.int32()),
        "role": pa.array(cols["role"][order].tolist(), pa.string()),
        "text": pa.array([cols["text"][i] for i in order.tolist()],
                         pa.string()),
        "tool": pa.array(cols["tool"][order].tolist(), pa.string()),
        "ts": pa.array(cols["ts"][order], pa.timestamp("us", tz="UTC")),
    }, schema=SCHEMA)


def _write_split(tbl: pa.Table, out_dir: str, n_files: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    step = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(tbl.slice(i * step, step), p, row_group_size=65536)
        paths.append(p)
    return paths


def preview_short(seed: int, out_dir: str, n_turns: int,
                  n_files: int = 8) -> dict:
    """Many short conversations, lengths lognormal around 16 turns."""
    rng = np.random.default_rng([seed, 1])
    pool = _TextPool(rng)
    lengths = []
    total = 0
    while total < n_turns:
        ln = int(np.clip(rng.lognormal(2.6, 0.7), 1, 400))
        lengths.append(ln)
        total += ln
    conv_ids = [f"s{seed}-{i:07d}" for i in range(len(lengths))]
    starts = EPOCH_US + rng.integers(0, 86_400_000_000, len(lengths))
    cols = _turn_rows(rng, pool, conv_ids, np.array(lengths), starts,
                      (1_000_000, 60_000_000))
    tbl = _table(cols)
    files = _write_split(tbl, out_dir, n_files)
    return {"turns": tbl.num_rows, "convs": len(conv_ids),
            "path": out_dir, "files": files}


def preview_long(seed: int, out_dir: str, n_turns: int,
                 hot_turns: int = 50_000, n_files: int = 8) -> dict:
    """A few hundred 1k-5k-turn conversations plus one hot conv_id."""
    rng = np.random.default_rng([seed, 2])
    pool = _TextPool(rng)
    lengths = [hot_turns]
    total = hot_turns
    while total < n_turns:
        ln = int(rng.integers(1_000, 5_001))
        lengths.append(ln)
        total += ln
    conv_ids = [f"l{seed}-hot"] + [f"l{seed}-{i:05d}"
                                    for i in range(1, len(lengths))]
    starts = EPOCH_US + rng.integers(0, 3_600_000_000, len(lengths))
    cols = _turn_rows(rng, pool, conv_ids, np.array(lengths), starts,
                      (1_000, 2_000_000))
    tbl = _table(cols)
    files = _write_split(tbl, out_dir, n_files)
    return {"turns": tbl.num_rows, "convs": len(conv_ids),
            "path": out_dir, "files": files, "hot_conv": conv_ids[0]}


def stream_timeline(seed: int, backlog_turns: int, rate: float,
                    interval_s: float, live_files: int) -> dict:
    """Relative-time schedule of the stream workload.

    Event time runs from -backlog_s to live_files * interval_s, in
    microseconds relative to the live phase's origin, with
    backlog_s = backlog_turns / rate. Conversations start uniformly over
    that span and live about a quarter of it, so the offered rate ramps
    up over the backlog's first quarter and is flat after; conversations
    interleave across files and span the backlog/live boundary.
    Returns {"backlog": cols, "live": [cols per file]} where each cols is
    a dict of numpy columns with ts relative (us)."""
    rng = np.random.default_rng([seed, 3])
    pool = _TextPool(rng)
    backlog_s = backlog_turns / rate
    live_s = live_files * interval_s
    span_us = int((backlog_s + live_s) * 1e6)
    # late-starting conversations are cut at the end, hence the margin
    total = int(rate * (backlog_s + live_s) * 1.25)
    lengths = []
    acc = 0
    while acc < total:
        ln = int(np.clip(rng.lognormal(2.6, 0.7), 1, 400))
        lengths.append(ln)
        acc += ln
    lengths = np.array(lengths)
    conv_ids = [f"t{seed}-{i:07d}" for i in range(len(lengths))]
    # a conversation lives ~1/4 of the span; turns past the end of the
    # live phase are never delivered, so turn_idx stays a dense prefix
    starts = rng.integers(0, span_us, len(lengths)) - int(backlog_s * 1e6)
    gap_hi = max(2 * (span_us // 4) // 16, 2_000)
    cols = _turn_rows(rng, pool, conv_ids, lengths, starts,
                      (1_000, gap_hi))
    end_us = int(live_s * 1e6)
    keep = cols["ts"] < end_us
    cols = {k: (v[keep] if isinstance(v, np.ndarray)
                else [x for x, k_ in zip(v, keep.tolist()) if k_])
            for k, v in cols.items()}
    order = np.argsort(cols["ts"], kind="stable")
    cols = {k: (v[order] if isinstance(v, np.ndarray)
                else [v[i] for i in order.tolist()])
            for k, v in cols.items()}
    ts = cols["ts"]
    cut = int(np.searchsorted(ts, 0, side="left"))
    edges = np.searchsorted(
        ts, (np.arange(1, live_files) * interval_s * 1e6).astype(np.int64),
        side="left")
    bounds = [cut] + edges.tolist() + [len(ts)]

    def sl(a, b):
        return {k: v[a:b] for k, v in cols.items()}

    return {"backlog": sl(0, cut),
            "live": [sl(bounds[i], bounds[i + 1])
                     for i in range(live_files)]}


def shifted_table(cols: dict, origin_us: int) -> pa.Table:
    """Absolute-time parquet table from relative-time columns."""
    c = dict(cols)
    c["ts"] = np.asarray(cols["ts"]) + origin_us
    c["text"] = list(cols["text"])
    return _table(c, order=np.arange(len(c["ts"])))


def write_atomic(tbl: pa.Table, path: str) -> None:
    """Write under a hidden temp name in the same directory, then rename:
    the file source never lists a half-written file (names starting with
    '.' are skipped by Spark's file listing)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)


def write_backlog(tl: dict, src_dir: str, origin_us: int,
                  n_files: int) -> int:
    """Backlog files (already present when the query starts)."""
    os.makedirs(src_dir, exist_ok=True)
    tbl = shifted_table(tl["backlog"], origin_us)
    step = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        write_atomic(tbl.slice(i * step, step),
                     os.path.join(src_dir, f"backlog-{i:04d}.parquet"))
    return tbl.num_rows


def live_main(argv: list[str] | None = None) -> int:
    """Live-phase generator: builds its files' rows from the seed, reads
    the live origin (wall-clock seconds) from stdin, then writes file k
    at origin + (k + 1) * interval, whatever the engine is doing. It
    prints one JSON summary line: turns, files, and how late the latest
    write ran behind its schedule."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--backlog-turns", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--files", type=int, required=True)
    a = ap.parse_args(argv)
    tl = stream_timeline(a.seed, a.backlog_turns, a.rate, a.interval,
                         a.files)
    print("ready", flush=True)
    line = sys.stdin.readline()
    if not line.strip():
        return 1
    origin = float(line)
    origin_us = int(origin * 1e6)
    late_max = 0.0
    turns = files = 0
    for k, cols in enumerate(tl["live"]):
        due = origin + (k + 1) * a.interval
        now = time.time()
        if due > now:
            time.sleep(due - now)
        tbl = shifted_table(cols, origin_us)
        write_atomic(tbl, os.path.join(a.dir, f"live-{k:05d}.parquet"))
        late_max = max(late_max, time.time() - due)
        turns += tbl.num_rows
        files += 1
    print(json.dumps({"turns": turns, "files": files,
                      "late_s_max": late_max}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(live_main())
