"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/run.py --selftest

Checks that every workload prints exactly the documented metric names and
units (untraced and traced), that a deliberately wrong output is reported
as failed passes, that the traced layer times account for the untraced
pass time, that the layer counts satisfy their invariants and repeat
exactly in a second run with the same seed, and that the benchmark exits
non-zero without printing a result when the program under test is absent.
Takes about ten minutes; prints one line per check.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--docs", "4000", "--seconds", "1", "--seed", "3"]


def _run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None, dict | None]:
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if len(lines) < 2:
        return p.returncode, None, None
    return p.returncode, json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    sys.path.insert(0, HERE)
    from run import END_TO_END, PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}, {m["name"]: m["unit"] for m in bench["per_layer"]}
    failures = []

    def check(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    check(declared[0] == END_TO_END and declared[1] == PER_LAYER, "BENCHMARK.json lists the printed metrics")
    counted = {}
    for wl in ("flagship_pip", "gml_dwithin", "tile_sink"):
        for trace in (0, 1):
            code, info, res = _run(["--workload", wl, "--trace", str(trace), *TINY])
            check(code == 0 and res is not None, f"{wl} trace={trace}: exits 0 with a result")
            if res is None:
                continue
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{wl} trace={trace}: correct, no failed pass ({info['errors'][:2]})")
            want = dict(PER_LAYER if trace else END_TO_END)
            if wl == "tile_sink" and not trace:
                want.update(write_bytes_per_input_byte="ratio", resume_s="s")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{wl} trace={trace}: metric names and units")
            m = {k: v["value"] for k, v in res["metrics"].items()}
            if not trace:
                check(all(v > 0 for v in m.values()), f"{wl}: every end-to-end metric is non-zero")
                continue
            # a flagship_pip pass does not write: its traced sink step is extra
            outside = {"trace.overhead_s", "sources.sink.resume_s"}
            if wl == "flagship_pip":
                outside.add("sources.sink.write_s")
            layer_s = sum(v for k, v in m.items() if PER_LAYER[k] == "s" and k not in outside)
            untraced = statistics.median(info["job_s"])
            remainder = untraced - layer_s
            check(abs(remainder) <= 0.5 * untraced + 0.5,
                  f"{wl}: layer self times {layer_s:.2f} s + untraced remainder {remainder:.2f} s "
                  f"= pass {untraced:.2f} s")
            check(os.path.exists(info["spans_file"]), f"{wl}: spans file written")
            counted[wl] = {k: v for k, v in m.items() if PER_LAYER[k] == "count" or k.startswith("spark.")}
            sent = m["spark.python_bytes_sent"]
            if wl == "gml_dwithin":
                check(sent > 0 and m["sources.gml.decode_errors"] > 0, f"{wl}: Arrow bytes sent {sent} > 0")
            else:
                check(sent == 0, f"{wl}: no Arrow bytes sent ({sent})")
            if wl != "gml_dwithin":
                check(m["sources.sink.buckets_skipped"] == 16 and m["sources.sink.rows_written"] == 4000,
                      f"{wl}: sink wrote every doc and the resume skipped all 16 buckets")

    for wl in ("flagship_pip", "gml_dwithin"):
        _, _, res = _run(["--workload", wl, "--trace", "1", *TINY])
        again = res and {k: res["metrics"][k]["value"] for k in counted.get(wl, {})}
        check(bool(again) and again == counted[wl], f"{wl}: counts repeat exactly in a second run")

    code, info, res = _run(["--workload", "flagship_pip", "--inject", "drop_doc", *TINY])
    check(code == 0 and res is not None and not res["correct"] and res["failed"] >= info["passes"],
          "a dropped output doc is reported as failed passes")

    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns(".work", ".cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, _, res = _run(["--workload", "flagship_pip", *TINY], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(code != 0 and res is None, f"without the program: exit {code}, no result printed")

    print(f"{len(failures)} failed check(s)")
    return 1 if failures else 0
