#!/usr/bin/env python3
"""Pin the input fingerprints (pages and query lists) of seeds 0..N-1.

  python3 perfbench/pin.py --seeds 200

Rewrites ``perfbench/pins.json``.  Run it only when the benchmark's inputs
are meant to change; a run whose seed is pinned fails its input check if
the generated inputs differ.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _fingerprints(seed: int) -> tuple[int, dict]:
    from perfbench.inputs import Inputs

    return seed, Inputs.make(seed).fingerprints()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, default=200)
    ap.add_argument("--processes", type=int, default=2)
    args = ap.parse_args()
    here = Path(__file__).resolve().parent
    sys.path[:] = [str(REPO)] + [p for p in sys.path
                                 if p and Path(p).resolve() != here]
    from perfbench.inputs import PINS

    ctx = mp.get_context("spawn")
    with ctx.Pool(args.processes) as pool:
        pins = dict(pool.map(_fingerprints, range(args.seeds)))
    PINS.write_text("{\n" + ",\n".join(
        f'"{s}": {json.dumps(pins[s])}' for s in sorted(pins)) + "\n}\n")


if __name__ == "__main__":
    main()
