"""Interleaved parent/change cdcbench pairs, recorded to one JSON file.

    python3 scripts/cdcbench_ab.py run --parent <checkout> --change <checkout> \\
        --workload stream_view --seeds 31-40 --trace 0 --out BENCH/X-cdcbench.json
    python3 scripts/cdcbench_ab.py render BENCH/X-cdcbench.json

``run`` runs ``python3 cdcbench/run.py --workload <w> --seed <s>
--seconds 20 --trace <t>`` in each checkout, once per seed and side, the
side that goes first alternating by seed (even seeds: parent first). Each
run is appended to ``--out`` as it finishes, so an interrupted batch keeps
what it measured. A traced run also records, from the checkout's event
log, every job described as the matview refresh with its input bytes,
every file-listing job with the descriptions of the jobs around it, and
per engine step (the ``adps:<layer>.<step>`` job tags the engine sets) the
jobs, tasks, executor CPU, input bytes and shuffle-write bytes, plus the
jobs that carry no engine tag.

``render`` skips runs that carry an ``excluded`` reason and prints the
Markdown tables: each traced pair's refresh figures and each traced
run's engine steps, every untraced run per seed, then per workload and metric the
parent and change medians, the parent's interquartile range and the
pairs the change wins.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

REFRESH = "lakehouse.matview:refresh"
STEP_FIGURES = ("tasks", "executor_cpu_s", "input_bytes", "shuffle_write_bytes")
LOWER_IS_BETTER = ("setup_s", "ingest_cpu_ms_per_event", "bytes_per_event")


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _jobs(checkout: str) -> dict:
    """From the event log the traced run left in ``checkout``: refresh
    jobs (input bytes), listing jobs, the per-step totals of the jobs the
    engine tagged ``adps:<layer>.<step>`` and the jobs with no such tag.

    A job inside nested steps carries all their tags; it is counted once,
    under the sorted tags joined by ``+``."""
    paths = glob.glob(os.path.join(checkout, "cdcbench", ".work", "eventlog", "*"))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tags = (props.get("spark.job.tags") or "").split(",")
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description") or "",
                    "step": "+".join(sorted(t[5:] for t in tags if t.startswith("adps:"))),
                    **dict.fromkeys(STEP_FIGURES, 0),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                jid = stage_job.get(ev["Stage ID"])
                if jid in jobs:
                    m, j = ev["Task Metrics"], jobs[jid]
                    j["tasks"] += 1
                    j["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    j["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    j["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
    order = sorted(jobs)

    def near(i: int, step: int) -> str | None:
        while 0 <= i + step < len(order):
            i += step
            if jobs[order[i]]["desc"]:
                return jobs[order[i]]["desc"][:60]
        return None

    listing = [
        {"job": j, "paths": int(jobs[j]["desc"].split(" for ")[1].split()[0]),
         "before": near(i, -1), "next": near(i, 1)}
        for i, j in enumerate(order)
        if jobs[j]["desc"].startswith("Listing leaf files")
    ]
    refresh = [jobs[j]["input_bytes"] for j in order if jobs[j]["desc"] == REFRESH]
    steps: dict[str, dict] = {}
    for j in order:
        if jobs[j]["step"]:
            st = steps.setdefault(jobs[j]["step"], dict.fromkeys(("jobs", *STEP_FIGURES), 0))
            st["jobs"] += 1
            for k in STEP_FIGURES:
                st[k] += jobs[j][k]
    untagged = [{"job": j, "desc": jobs[j]["desc"][:60]} for j in order if not jobs[j]["step"]]
    return {"refresh_job_input_bytes": refresh, "listing_jobs": listing,
            "steps": steps, "untagged_jobs": untagged}


def _run_one(checkout: str, workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, "cdcbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "20", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if len(lines) < 2:
        raise RuntimeError(f"{checkout}: no result (exit {out.returncode})\n{out.stderr[-2000:]}")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    rec = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "steal_share_after_setup": detail["steal_share_after_setup"],
        "step_samples_s": detail.get("step_samples_s"),
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
    }
    if trace:
        rec["jobs_by_owner"] = detail.get("jobs_by_owner")
        rec.update(_jobs(checkout))
    return rec


def run(args) -> None:
    doc = {"command": "python3 cdcbench/run.py --workload <w> --seed <s> --seconds 20 --trace <t>",
           "runs": []}
    if os.path.exists(args.out):
        with open(args.out) as f:
            doc = json.load(f)
    sides = {"parent": args.parent, "change": args.change}
    for seed in _seeds(args.seeds):
        order = ["parent", "change"] if seed % 2 == 0 else ["change", "parent"]
        for i, side in enumerate(order):
            rec = {"workload": args.workload, "seed": seed, "trace": args.trace,
                   "side": side, "ran_first": i == 0}
            rec.update(_run_one(sides[side], args.workload, seed, args.trace))
            doc["runs"].append(rec)
            with open(args.out, "w") as f:
                json.dump(doc, f, indent=1)
            m = rec["metrics"]
            print(args.workload, seed, side, rec["correct"],
                  {k: round(m[k], 3) for k in LOWER_IS_BETTER if k in m}, flush=True)


def _quartiles(v: list[float]) -> tuple[float, float]:
    q = statistics.quantiles(v, n=4, method="inclusive")
    return q[0], q[2]


TRACED = ("matview.refresh_s", "matview.jobs_per_refresh", "spark.jobs", "spark.tasks")


def _render_traced(runs: list[dict]) -> None:
    for seed in sorted({r["seed"] for r in runs}):
        side = {r["side"]: r for r in runs if r["seed"] == seed}
        if len(side) != 2:
            continue
        print(f"\n**{runs[0]['workload']} traced pair**, seed {seed}\n")
        print("| figure | parent | change |\n|---|---|---|")
        for m in TRACED:
            print(f"| `{m}` | " + " | ".join(f"{side[x]['metrics'][m]:.4g}" for x in ("parent", "change")) + " |")
        cells = {
            "largest refresh job input (B)": lambda r: f"{max(r['refresh_job_input_bytes'], default=0):,}",
            "epoch latencies (s)": lambda r: " / ".join(f"{v:.2f}" for v in r["step_samples_s"]),
            "listing jobs (paths: job before → job after)": lambda r: "; ".join(
                f"{j['paths']}: {j['before']} → {j['next']}" for j in r["listing_jobs"]
            ),
        }
        for name, cell in cells.items():
            print(f"| {name} | {cell(side['parent'])} | {cell(side['change'])} |")
        for x in ("parent", "change"):
            _render_steps(x, side[x])


def _render_steps(side: str, r: dict) -> None:
    """The engine's tagged steps of one traced run, and its untagged jobs
    (a run of code that sets no tags has no steps and prints nothing)."""
    if not r.get("steps"):
        return
    print(f"\n{side}: jobs per engine step\n")
    print("| step | jobs | " + " | ".join(STEP_FIGURES) + " |")
    print("|---|---|" + "---|" * len(STEP_FIGURES))
    for name, st in sorted(r["steps"].items(), key=lambda kv: -kv[1]["executor_cpu_s"]):
        print(f"| `{name}` | {st['jobs']} | {st['tasks']} | {st['executor_cpu_s']:.3f} | "
              f"{st['input_bytes']:,} | {st['shuffle_write_bytes']:,} |")
    print(f"\nuntagged jobs ({len(r['untagged_jobs'])}): "
          + "; ".join(f"{j['job']} {j['desc'] or '(no description)'}" for j in r["untagged_jobs"]))


def render(args) -> None:
    with open(args.json) as f:
        runs = [r for r in json.load(f)["runs"] if "excluded" not in r]
    for w in sorted({r["workload"] for r in runs if r["trace"]}):
        _render_traced([r for r in runs if r["trace"] and r["workload"] == w])
    runs = [r for r in runs if r["trace"] == 0]
    for w in sorted({r["workload"] for r in runs}):
        pairs: dict[int, dict] = {}
        for r in runs:
            if r["workload"] == w:
                pairs.setdefault(r["seed"], {})[r["side"]] = r
        seeds = sorted(s for s, p in pairs.items() if len(p) == 2)
        print(f"\n**{w}**, {len(seeds)} pairs (p/c: the side that ran first)\n")
        print("| seed | " + " | ".join(f"{m} parent / change" for m in LOWER_IS_BETTER) + " |")
        print("|---|" + "---|" * len(LOWER_IS_BETTER))
        for s in seeds:
            p, c = pairs[s]["parent"], pairs[s]["change"]
            first = "p" if p["ran_first"] else "c"
            cells = [f"{p['metrics'][m]:.3f} / {c['metrics'][m]:.3f}" for m in LOWER_IS_BETTER]
            print(f"| {s}{first} | " + " | ".join(cells) + " |")
        print("\n| metric | parent median | change median | change | parent IQR | change wins |")
        print("|---|---|---|---|---|---|")
        for m in LOWER_IS_BETTER:
            pv = [pairs[s]["parent"]["metrics"][m] for s in seeds]
            cv = [pairs[s]["change"]["metrics"][m] for s in seeds]
            q1, q3 = _quartiles(pv)
            pm, cm = statistics.median(pv), statistics.median(cv)
            wins = sum(c < p for p, c in zip(pv, cv))
            print(f"| {m} | {pm:.3f} | {cm:.3f} | {100 * (cm / pm - 1):+.1f}% | "
                  f"{q3 - q1:.3f} | {wins}/{len(seeds)} |")
        ok = all(pairs[s][x]["correct"] and not pairs[s][x]["failed"] for s in seeds for x in ("parent", "change"))
        att = sorted({pairs[s][x]["attempted"] for s in seeds for x in ("parent", "change")})
        print(f"\nAll runs correct with 0 failed: {ok}; attempted per run: {att}.")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="one seed or a range, e.g. 31-40")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    d = sub.add_parser("render")
    d.add_argument("json")
    args = ap.parse_args()
    if args.cmd == "run":
        run(args)
    else:
        render(args)


if __name__ == "__main__":
    main()
