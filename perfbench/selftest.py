"""Self-test of the benchmark (not of the engine).

Usage, from the root of a checkout:

    python3 perfbench/selftest.py

Runs every workload of ``BENCHMARK.json`` briefly, untraced and traced, and
checks that:

* the result line holds exactly the declared end-to-end (``--trace 0``) and
  per-layer (``--trace 1``) metrics, with their declared units, and no op
  failed;
* the traced spans nest as op > {build, action} > job > stage, each inside
  its parent's interval and trace;
* ``python.*`` and ``streaming.*`` are zero on ``analytics_batch`` and not
  on ``curation_ingest``;
* every layer that only ``curation_ingest`` loads (similarity, the model
  artifact collector, the cache, the streaming state store) reads above
  zero there;
* a deliberately wrong pinned digest is reported as a failed op.

Exits 0 when every check holds; prints each failed check otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

SEED = 7
SECONDS = "2"
SLACK_S = 0.01  # job/stage times are whole milliseconds


def run(workload: str, trace: int, *extra: str) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(SEED), "--seconds", SECONDS,
           "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    return json.loads(lines[-1]), lines


def check_result(errors: list[str], name: str, res: dict,
                 declared: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        errors.append(f"{name}: metrics {sorted(set(got) ^ set(want))} "
                      f"differ from BENCHMARK.json, or their units do")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        errors.append(f"{name}: correct={res['correct']} "
                      f"failed={res['failed']} attempted={res['attempted']}")


def check_spans(errors: list[str], name: str, path: str) -> None:
    with open(path) as f:
        spans = {s["span"]: s for s in map(json.loads, f)}
    kinds = {"op": 0, "build": 0, "action": 0, "job": 0, "stage": 0}
    allowed = {"build": ("op",), "action": ("op",),
               "job": ("build", "action", "op"), "stage": ("job",)}
    in_phase = 0
    for s in spans.values():
        kind = s["name"].split(":")[0]
        kinds[kind] += 1
        if kind == "op":
            if s["parent"] is not None:
                errors.append(f"{name}: op span {s['span']} has a parent")
            continue
        parent = spans.get(s["parent"])
        pkind = parent["name"].split(":")[0] if parent else None
        if pkind not in allowed[kind]:
            errors.append(f"{name}: {kind} span {s['span']} under {pkind}")
            continue
        if parent["trace"] != s["trace"]:
            errors.append(f"{name}: span {s['span']} leaves its trace")
        if kind != "stage" and not (
                parent["start"] - SLACK_S <= s["start"]
                and s["end"] <= parent["end"] + SLACK_S):
            errors.append(f"{name}: {kind} span {s['span']} outside parent")
        in_phase += kind == "job" and pkind != "op"
    if min(kinds.values()) == 0:
        errors.append(f"{name}: missing span kinds {kinds}")
    if in_phase * 2 < kinds["job"]:
        errors.append(f"{name}: only {in_phase} of {kinds['job']} jobs "
                      "nest inside build or action")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors: list[str] = []
    layers = {}
    for wl in (w["name"] for w in bench["workloads"]):
        res, _ = run(wl, 0)
        check_result(errors, f"{wl} --trace 0", res, bench["end_to_end"])
        res, _ = run(wl, 1)
        check_result(errors, f"{wl} --trace 1", res, bench["per_layer"])
        stem = os.path.join(ROOT, ".perfbench", "traces", f"{wl}-seed{SEED}")
        check_spans(errors, wl, stem + ".spans.jsonl")
        with open(stem + ".layers.json") as f:
            layers[wl] = json.load(f)["layers"]

    probes = ("python.run_s", "python.data_sent_bytes",
              "streaming.microbatches", "streaming.trigger_s")
    for key in probes:
        if layers["analytics_batch"][key] != 0:
            errors.append(f"analytics_batch: {key} is "
                          f"{layers['analytics_batch'][key]}, expected 0")
        if layers["curation_ingest"][key] <= 0:
            errors.append(f"curation_ingest: {key} is 0, expected > 0")
    for key in ("similarity.build_s", "core.collect_model_artifact_rows",
                "cache.persisted_bytes", "streaming.state_rows",
                "streaming.state_memory_bytes"):
        if layers["curation_ingest"][key] <= 0:
            errors.append(f"curation_ingest: {key} is 0, expected > 0")
    for key, value in layers["analytics_batch"].items():
        if key.startswith(("python.", "streaming.")) and value != 0:
            errors.append(f"analytics_batch: {key} is {value}, expected 0")

    # A wrong pinned digest must fail the op it pins, and only that op.
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    pinned = sorted(expected["ops"])[0]
    expected["ops"][pinned]["digest"] = "0" * 64
    bad = os.path.join(ROOT, ".perfbench", "selftest-expected.json")
    with open(bad, "w") as f:
        json.dump(expected, f)
    owner = next(w for w, spec in WORKLOADS.items() if pinned in spec["ops"])
    res, lines = run(owner, 0, "--expected", bad)
    os.remove(bad)
    if res["correct"] or res["failed"] < 1:
        errors.append(f"wrong digest for {pinned} not reported: {res}")
    if not any(line.startswith(f"#   FAILED {pinned}:") for line in lines):
        errors.append(f"wrong digest: {pinned} not named as failed")
    if any(line.startswith("#   FAILED") and pinned not in line
           for line in lines):
        errors.append("wrong digest: other ops failed too")

    for e in errors:
        print(f"FAIL {e}")
    print("selftest:", "ok" if not errors else f"{len(errors)} failed checks")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
