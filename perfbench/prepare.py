"""Untimed preparation, run as a child process of ``run.py`` so that neither
its memory nor its work counts toward the measured run:

1. the host speed tokens (before any JVM exists);
2. the seeded inputs (reused when the seed and size are unchanged).

Prints one JSON line: the host tokens and the manifest path.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    from perfbench import gen, host

    out = {"host": host.calibration()}
    manifest = gen.ensure(os.path.join(args.work, "data"), args.seed)
    out["manifest"] = os.path.join(os.path.dirname(manifest["timeseries"]), "manifest.json")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
