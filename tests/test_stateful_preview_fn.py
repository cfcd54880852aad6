"""The applyInPandasWithState function, driven without Spark.

make_bucketed_preview_fn is the only stateful preview function; grouping
by conv_id just hands it groups that hold one conversation each. These
tests drive it with a fake GroupState through merge rounds and session
timeouts: last-write-wins, stale duplicates, out-of-order backfill, emit
policies, the event-time timeout, and session restart after close.
"""

from __future__ import annotations

import pandas as pd
import pytest

from headson_spark.kernel.api import summarize_value
from headson_spark.streaming.engine import make_bucketed_preview_fn


class FakeGroupState:
    """Minimal applyInPandasWithState GroupState stand-in."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.watermark_ms = 0
        self.timeout_ts = None
        self.removed = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None
        self.removed = True

    def getCurrentWatermarkMs(self):
        return self.watermark_ms

    def setTimeoutTimestamp(self, ts):
        self.timeout_ts = ts


GAP_MS = 600_000


def _ms(ts_iso: str) -> int:
    return int(pd.Timestamp(ts_iso).value // 1_000_000)


def _batch(rows, conv_id="conv"):
    """rows: list of (turn_idx, role, text, tool, ts_iso)."""
    return pd.DataFrame({
        "conv_id": [conv_id] * len(rows),
        "turn_idx": pd.array([r[0] for r in rows], dtype="int32"),
        "role": [r[1] for r in rows],
        "text": [r[2] for r in rows],
        "tool": [r[3] for r in rows],
        "ts": pd.Series([pd.Timestamp(r[4]) for r in rows],
                        dtype="datetime64[ns]")})


class GroupRunner:
    """One state group fed batch by batch, as Spark would."""

    def __init__(self, budget=500, **fn_kwargs):
        self.fn = make_bucketed_preview_fn(budget=budget,
                                           session_gap_ms=GAP_MS,
                                           **fn_kwargs)
        self.state = FakeGroupState()

    def deliver(self, *pdfs):
        self.state.hasTimedOut = False
        return list(self.fn(("conv",), iter(pdfs), self.state))

    def expire(self):
        """Advance the watermark to the armed deadline and fire it."""
        self.state.watermark_ms = self.state.timeout_ts
        self.state.hasTimedOut = True
        return list(self.fn(("conv",), iter([]), self.state))


def run(batches, expire=True, **fn_kwargs):
    d = GroupRunner(**fn_kwargs)
    out = []
    for b in batches:
        out.extend(d.deliver(b))
    if expire:
        out.extend(d.expire())
    return out, d.state


def _rows(out):
    return [r for pdf in out for r in pdf.to_dict("records")]


def test_simple_growth_and_close():
    out, _ = run([
        _batch([(0, "user", "hello", "", "2026-01-01T00:00:00"),
                (1, "assistant", "hi there", "", "2026-01-01T00:00:01")]),
        _batch([(2, "user", "more text", "", "2026-01-01T00:00:02"),
                (3, "assistant", "done", "", "2026-01-01T00:00:03")]),
    ])
    rows = _rows(out)
    # 2 intermediate + 1 final emission
    assert [bool(r["final"]) for r in rows] == [False, False, True]
    assert [r["n_turns"] for r in rows] == [2, 4, 4]
    assert rows[-1]["preview"] == rows[-2]["preview"]


def test_late_turn_lww_overwrites():
    """A re-delivered turn with a LATER ts replaces the content."""
    out, _ = run([
        _batch([(0, "user", "v1 of turn zero", "",
                 "2026-01-01T00:00:00"),
                (1, "assistant", "turn one", "", "2026-01-01T00:00:01")]),
        _batch([(0, "user", "V2-REWRITE of turn zero", "",
                 "2026-01-01T00:05:00")]),
    ])
    final = _rows(out)[-1]["preview"]
    assert "V2-REWRITE" in final and "v1 of turn zero" not in final


def test_stale_duplicate_is_dropped():
    """A re-delivered turn with an EARLIER ts must NOT overwrite."""
    out, _ = run([
        _batch([(0, "user", "CANONICAL", "", "2026-01-01T00:05:00")]),
        _batch([(0, "user", "STALE-REPLAY", "", "2026-01-01T00:00:00"),
                (1, "assistant", "next", "", "2026-01-01T00:05:01")]),
    ])
    final = _rows(out)[-1]["preview"]
    assert "CANONICAL" in final and "STALE-REPLAY" not in final


def test_out_of_order_backfill():
    """Gap turns arriving after their successors shift ranks in the
    bounded state; the final preview is the dense conversation's."""
    out, _ = run([
        _batch([(0, "user", "first", "", "2026-01-01T00:00:00"),
                (2, "user", "third", "", "2026-01-01T00:00:02"),
                (4, "user", "fifth", "", "2026-01-01T00:00:04")]),
        _batch([(1, "assistant", "second (late)", "",
                 "2026-01-01T00:00:01"),
                (3, "assistant", "fourth (late)", "",
                 "2026-01-01T00:00:03")]),
    ])
    final = _rows(out)[-1]
    assert final["n_turns"] == 5
    texts = ["first", "second (late)", "third", "fourth (late)", "fifth"]
    roles = ["user", "assistant", "user", "assistant", "user"]
    assert final["preview"] == summarize_value(
        {"turns": [{"role": r, "text": t, "tool": ""}
                   for r, t in zip(roles, texts)]}, character_budget=500)


def test_long_conversation_bounded_state_matches_kernel():
    """600 turns at budget 500 in two rounds: the bounded state (keep-set
    + seen-bitmap) renders byte-equal to the kernel over the whole
    merged conversation."""
    turns = [(i, "user" if i % 2 == 0 else "assistant",
              f"turn {i} says something number {i * 7}", "",
              f"2026-01-01T{i // 3600:02d}:{(i // 60) % 60:02d}:"
              f"{i % 60:02d}")
             for i in range(600)]
    out, _ = run([_batch(turns[:250]), _batch(turns[250:])])
    final = _rows(out)[-1]
    assert final["final"] and final["n_turns"] == 600
    assert final["preview"] == summarize_value(
        {"turns": [{"role": r, "text": t, "tool": tool}
                   for _, r, t, tool, _ in turns]}, character_budget=500)


def test_state_removed_on_close():
    out, state = run([_batch([(0, "user", "x", "",
                               "2026-01-01T00:00:00")])])
    assert _rows(out)[-1]["final"]
    assert state.removed and not state.exists


def test_expiry_arms_deadline_and_clears_state():
    """The session deadline is the max event time + gap; when the
    watermark passes it the conversation emits its final row and leaves
    no state behind."""
    d = GroupRunner()
    d.deliver(_batch([(0, "user", "x", "", "2026-01-01T00:00:00")]))
    assert d.state.timeout_ts == _ms("2026-01-01T00:00:00") + GAP_MS
    rows = _rows(d.expire())
    assert [(r["conv_id"], r["final"]) for r in rows] == [("conv", True)]
    assert not d.state.exists


def test_unchanged_batch_emits_nothing():
    """A batch that changes nothing (pure stale replay) must not emit."""
    out, _ = run([
        _batch([(0, "user", "x", "", "2026-01-01T00:05:00")]),
        _batch([(0, "user", "ignored", "", "2026-01-01T00:00:00")]),
    ], expire=False)
    assert len(out) == 1


def test_emit_policies_agree_on_final_state():
    """on_change / on_close / every_k: identical final render and the
    documented intermediate-emission counts (3 changed rounds; every_k
    with k=2 emits on round 2 only)."""
    batches = [
        _batch([(0, "user", "a", "", "2026-01-01T00:00:00")]),
        _batch([(1, "assistant", "b", "", "2026-01-01T00:00:01")]),
        _batch([(2, "user", "c", "", "2026-01-01T00:00:02")]),
    ]
    finals = {}
    for policy, expect_inter in (("on_change", 3), ("on_close", 0),
                                 ("every_k", 1)):
        rows = _rows(run(batches, emit_policy=policy, emit_every=2)[0])
        assert len([r for r in rows if not r["final"]]) == expect_inter
        assert rows[-1]["final"]
        finals[policy] = rows[-1]["preview"]
    assert len(set(finals.values())) == 1


def test_rejects_unknown_policy():
    with pytest.raises(ValueError):
        make_bucketed_preview_fn(emit_policy="sometimes")


def test_every_k_cadence_skips_unchanged_rounds():
    """every_k counts CHANGED merge rounds only: a stale-replay round (LWW
    loser) must not advance the cadence. Changed rounds here are 1,2,3,4
    with a stale round between 2 and 3; emit_every=2 => intermediates on
    changed rounds 2 and 4 exactly."""
    out, _ = run([
        _batch([(0, "user", "a", "", "2026-01-01T00:05:00")]),        # r1
        _batch([(1, "assistant", "b", "", "2026-01-01T00:05:01")]),   # r2
        _batch([(0, "user", "stale", "", "2026-01-01T00:00:00")]),    # --
        _batch([(2, "user", "c", "", "2026-01-01T00:05:02")]),        # r3
        _batch([(3, "assistant", "d", "", "2026-01-01T00:05:03")]),   # r4
    ], emit_policy="every_k", emit_every=2, expire=False)
    assert [r["n_turns"] for r in _rows(out)] == [2, 4]


def test_timeout_tracks_max_ts_and_clamps_past_watermark():
    """The session deadline is max event time + gap: a late (older-ts)
    turn keeps it, a newer turn advances it, and a deadline already
    behind the watermark is clamped to watermark + 1."""
    d = GroupRunner()
    deadline = _ms("2026-01-01T00:10:00") + GAP_MS
    d.deliver(_batch([(0, "user", "x", "", "2026-01-01T00:10:00")]))
    assert d.state.timeout_ts == deadline
    # late turn, 9 minutes older: deadline unchanged
    d.deliver(_batch([(1, "user", "late", "", "2026-01-01T00:01:00")]))
    assert d.state.timeout_ts == deadline
    # newer turn: deadline advances
    d.deliver(_batch([(2, "user", "y", "", "2026-01-01T00:12:00")]))
    assert d.state.timeout_ts == deadline + 120_000
    # watermark already past the deadline: clamp to just beyond it
    d.state.watermark_ms = deadline + 10 * GAP_MS
    d.deliver(_batch([(3, "user", "z", "", "2026-01-01T00:11:00")]))
    assert d.state.timeout_ts == d.state.watermark_ms + 1


def test_new_delivery_after_close_starts_fresh_session():
    """After the timeout closes a session, a later delivery for the same
    conversation rebuilds it from scratch (fresh rounds counter, fresh
    turn map) and arms a fresh deadline."""
    d = GroupRunner()
    d.deliver(_batch([(0, "user", "first session", "",
                       "2026-01-01T00:00:00")]))
    final = _rows(d.expire())
    assert len(final) == 1 and final[0]["final"]
    out = _rows(d.deliver(_batch([(0, "user", "second session", "",
                                   "2026-01-02T00:00:00")])))
    assert len(out) == 1
    row = out[0]
    assert row["n_turns"] == 1 and "second session" in row["preview"]
    assert "first session" not in row["preview"]
    assert row["last_ts"] == pd.Timestamp("2026-01-02T00:00:00", tz="UTC")
    assert d.state.timeout_ts == _ms("2026-01-02T00:00:00") + GAP_MS


def test_shared_group_emits_same_rows_as_one_group_per_conversation():
    """Grouping is an execution choice: two conversations sharing one
    group emit the same rows as each in its own group."""
    a = [_batch([(0, "user", "a0", "", "2026-01-01T00:00:00")], "a"),
         _batch([(1, "assistant", "a1", "", "2026-01-01T00:00:05")], "a")]
    b = [_batch([(0, "user", "b0", "", "2026-01-01T00:00:01")], "b"),
         _batch([(1, "user", "b1-late", "", "2026-01-01T00:00:00"),
                 (2, "user", "b2", "", "2026-01-01T00:00:09")], "b")]
    shared = GroupRunner()
    together = []
    for pa_, pb in zip(a, b):
        together += _rows(shared.deliver(pa_, pb))
    while shared.state.exists:  # one timeout per session deadline
        together += _rows(shared.expire())
    alone = _rows(run(a)[0]) + _rows(run(b)[0])
    key = (lambda r: (r["conv_id"], r["final"], r["n_turns"]))
    assert sorted(together, key=key) == sorted(alone, key=key)
