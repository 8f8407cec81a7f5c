"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Checks that
1. every workload prints every metric named in ``BENCHMARK.json`` with its
   unit, traced and untraced (units that fail their output check are
   reported, as program defects);
2. a corrupted expected page is counted as a failed unit (``failed`` and
   ``failed_frac``);
3. the same seed gives an identical input digest and another seed a
   different one, for every input generator.

Exits 0 when all hold.  Takes a few minutes: each workload run starts its
own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from perfbench import inputs, run, workloads  # noqa: E402

TINY = {
    "WEB_DOCS": 60,
    "CORPUS_TABLES": (120, 120, 600, 100),
    "CORPUS_WEB_DOCS": 40,
    "MIN_PASSES": 1,
    "WARMUP_PASSES": 1,
}


def _run(workload: str, trace: int, corrupt: bool = False) -> dict:
    """One benchmark run at TINY sizes, in a fresh process (a Python
    process holds one Spark gateway for its lifetime)."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", workload,
         str(trace), str(int(corrupt))],
        stdout=subprocess.PIPE, text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def _child(workload: str, trace: str, corrupt: str) -> int:
    for name, value in TINY.items():
        setattr(workloads, name, value)
    if corrupt == "1":
        real = workloads.load_goldens

        def corrupted():
            g = real()
            parser, pages = g["f02_multipage"]
            g["f02_multipage"] = (parser, ("0" * 32,) + pages[1:])
            return g

        workloads.load_goldens = corrupted
    return run.main(["--workload", workload, "--seed", "7", "--seconds", "0",
                     "--trace", trace])


def check_metrics(spec: dict) -> None:
    for workload in workloads.WORKLOADS:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            res = _run(workload, trace)
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (workload, trace, set(got) ^ set(want))
            assert all(isinstance(v["value"], (int, float))
                       for v in res["metrics"].values())
            assert res["attempted"] >= 1
            # a failed unit here is a program defect the benchmark found,
            # not a benchmark fault: report it, do not fail the self-test
            print("selftest: %s trace=%d: %d metrics, %d of %d units correct"
                  % (workload, trace, len(got), res["attempted"] - res["failed"],
                     res["attempted"]))


def check_corrupted_page() -> None:
    res = _run("web_extract", 1, corrupt=True)
    failed_frac = res["metrics"]["failed_frac"]["value"]
    assert not res["correct"] and res["failed"] >= 1, res
    assert failed_frac == res["failed"] / res["attempted"] > 0, res
    print("selftest: corrupted golden page counted: failed=%d of %d"
          % (res["failed"], res["attempted"]))


def check_digests() -> None:
    def digests(seed: int) -> list[str]:
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".out")) as root:
            cache = inputs.InputCache(root)
            return [
                cache.corpus_tables(seed, *TINY["CORPUS_TABLES"])["input_digest"],
                cache.web_pages(seed, TINY["WEB_DOCS"])["input_digest"],
            ]

    a, b, c = digests(1), digests(1), digests(2)
    assert a == b, "same seed, different inputs"
    assert all(x != y for x, y in zip(a, c)), "different seeds, same input"
    print("selftest: input digests are seed-determined")


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_digests()
    check_corrupted_page()
    check_metrics(spec)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        sys.exit(_child(*sys.argv[2:5]))
    sys.exit(main())
