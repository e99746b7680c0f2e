"""Check that the input generators are deterministic.

    python3 perfbench/check_gen.py [--seed N]

Generates every workload's inputs twice from the same seed and once
from another seed, under ``<checkout>/.perfbench_work/``, and exits
non-zero unless the two same-seed trees are byte-identical and the
other seed's tree differs.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402


def generate_all(seed: int, root: str) -> None:
    gen.elb_batch_inputs(seed, os.path.join(root, "elb_batch"))
    gen.elb_stream_inputs(seed, os.path.join(root, "elb_stream"))


def digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    work = os.path.join(ROOT, ".perfbench_work", f"check_gen-{os.getpid()}")
    try:
        trees = {}
        for name, seed in (("a", args.seed), ("b", args.seed), ("c", args.seed + 1)):
            generate_all(seed, os.path.join(work, name))
            trees[name] = digest(os.path.join(work, name))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    same = trees["a"] == trees["b"]
    differs = {k for k in trees["a"] if trees["a"][k] != trees["c"].get(k)}
    print(f"{len(trees['a'])} files; same seed identical: {same}; "
          f"files that differ for another seed: {len(differs)}")
    if not same or not differs:
        sys.exit(1)


if __name__ == "__main__":
    main()
