"""Profile the per-conversation preview kernel at bench shape (no Spark).

Reads a slice of the cached bench transcripts, groups by conv_id exactly
like the mapInPandas flush path, and times/profiles the kernel loop:
kernel.api.render_conversation (arena -> lazy order -> budget binary
search).

Usage: python scripts/profile_kernel.py [n_turns] [--cprofile]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow.dataset as ds

from headson_spark.kernel.api import make_configs, render_conversation

N = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 200_000
BUDGET = 500


def main():
    path = "data/transcripts_sf1.0_b1000000_f32.parquet"
    tbl = ds.dataset(path).head(N)
    pdf = tbl.to_pandas().sort_values(
        ["conv_id", "turn_idx", "ts"], kind="stable")
    cfg, prio, budget = make_configs(format="json", style="default",
                                     character_budget=BUDGET,
                                     skew="balanced")
    conv = pdf["conv_id"].to_numpy()
    roles = pdf["role"].tolist()
    texts = pdf["text"].tolist()
    tools = pdf["tool"].tolist()
    bounds = np.flatnonzero(conv[1:] != conv[:-1]) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(conv)]))

    def run():
        out = 0
        for s, e in zip(starts, ends):
            preview = render_conversation(roles[s:e], texts[s:e],
                                          tools[s:e], cfg, prio, budget)
            out += len(preview)
        return out

    t0 = time.time()
    total = run()
    dt = time.time() - t0
    n_convs = len(starts)
    print(f"turns={len(conv)} convs={n_convs} wall={dt:.3f}s "
          f"-> {len(conv)/dt/1000:.1f}k turns/s, "
          f"{dt/n_convs*1e3:.3f} ms/conv (chk {total})")

    if "--cprofile" in sys.argv:
        import cProfile
        import pstats
        pr = cProfile.Profile()
        pr.enable()
        run()
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(30)


if __name__ == "__main__":
    main()
