#!/usr/bin/env python3
"""Streaming benchmark of the two reference pipelines.

    python3 streambench/run.py --workload paced --seed 1 --seconds 12 --trace 0
    python3 streambench/run.py --workload all --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the benchmark and the
library sources into `streambench/target` with sbt (offline); later runs
reuse that build while the sources are unchanged. One run is one workload
in one JVM; `--workload all` runs both in turn and prints every
end-to-end metric under its workload's name.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The line before it, starting `# capture`, stamps the run's conditions.
See streambench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LIB = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
WORKLOADS = ("paced", "batch")


def fail(msg, code=1):
    print(f"streambench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = sorted(p for d in (LIB, HERE / "src" / "main", HERE / "project")
                   for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for p in files + [HERE / "build.sbt"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(digest):
    """Classpath of the compiled benchmark, building it if stale."""
    stamp = TARGET / "classpath.txt"
    if stamp.exists():
        saved, cp = stamp.read_text().split("\n", 1)
        if saved == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime / fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines()
             if "target/scala-2.13/classes" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    TARGET.mkdir(parents=True, exist_ok=True)
    stamp.write_text(f"{digest}\n{lines[-1].strip()}\n")
    return lines[-1].strip()


def cpu_probe_ms():
    """Time of a fixed single-threaded loop: a slow host shows here."""
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * i
    return round((time.perf_counter() - t0) * 1e3, 1)


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_jvm(workload, seed, seconds, trace, consts, cp, work, deadline):
    """Run one workload in its own JVM; returns its result object."""
    out = work / "result.json"
    nproc = len(os.sched_getaffinity(0))
    if workload == "batch":
        import refcheck
        refcheck.write_events(work / "tables" / "events.parquet", seed,
                              consts["reference_events"])
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{consts['heap']}", f"@{HERE / 'jvm.opts'}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.stream.error.file={work / 'derby.log'}",
           "-cp", cp, "graft.bench.StreamBench",
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--work", str(work), "--out", str(out), "--cpus", str(nproc),
           "--constants", str(HERE / "constants.json")]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not out.exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(tail)
        fail(f"{workload} run failed ({code})")
    res = json.loads(out.read_text())
    res["nproc"] = nproc
    if workload == "batch":
        import refcheck
        res["reference"] = refcheck.check(work / "tables", work / "ref")
    return res


def outcome(res):
    """(attempted, failed, {part: error rate}) of one workload's checks."""
    parts = {"window": res["windows"], "risk": res["risk"]}
    ref = res.get("reference")
    if ref is not None:
        bad = sum(1 for v in ref.values() if v != "OK")
        parts["reference"] = {"attempted": len(ref), "failed": bad}
        if len(ref) != int(res["info"].get("reference_keys", len(ref))):
            parts["reference"]["failed"] += 1
    attempted = sum(int(p["attempted"]) for p in parts.values())
    failed = sum(int(p["failed"]) for p in parts.values()) + len(res["errors"])
    rates = {k: (int(p["failed"]) / int(p["attempted"]) if int(p["attempted"]) else 0.0)
             for k, p in parts.items()}
    return attempted, failed, rates


def one(workload, seed, seconds, trace, bench, consts, cp, digest):
    t_start = time.monotonic()
    load_before = os.getloadavg()[0]
    probe_before = cpu_probe_ms()
    work = TARGET / "work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_jvm(workload, seed, seconds, trace, consts, cp, work,
                      t_start + 170)
        attempted, failed, rates = outcome(res)
        want = bench["per_layer" if trace else "end_to_end"]
        if trace:
            # per-layer names may also name a measured-pass figure
            layer = {**res["e2e"], **res["layer"]}
            for k, v in rates.items():
                layer[f"check.{k}_error_rate"] = v
            metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                                   "unit": m["unit"]} for m in want}
        else:
            missing = [m["name"] for m in want if m["name"] not in res["e2e"]]
            if missing:
                sys.stderr.write("\n".join(res["errors"]) + "\n")
                fail(f"{workload}: no value for {missing}")
            metrics = {m["name"]: {"value": float(res["e2e"][m["name"]]),
                                   "unit": m["unit"]} for m in want}
        nproc = res["nproc"]
        load_after = os.getloadavg()[0]
        # steal share of the reported (least-stolen) measured pass
        steal = min(res["info"].get("pass_steal_pct") or [0.0])
        capture = {
            "workload": workload, "seed": seed, "seconds": seconds,
            "trace": int(trace), "commit": commit(), "source_digest": digest,
            "nproc": nproc, "load1_before": round(load_before, 2),
            "load1_after": round(load_after, 2), "max_heap": consts["heap"],
            "cpu_probe_ms_before": probe_before,
            "cpu_probe_ms_after": cpu_probe_ms(),
            "co_tenant_load": load_before >= nproc / 2 or steal >= 10,
            "error_rates": rates, "errors": res["errors"],
            "reference": res.get("reference"), **res["info"],
            "measured": res["e2e"],
            "wall_s": round(time.monotonic() - t_start, 1),
        }
        results = TARGET / "results"
        results.mkdir(parents=True, exist_ok=True)
        name = f"{workload}-seed{seed}-trace{int(trace)}"
        if trace and (work / "spans.json").exists():
            shutil.copy(work / "spans.json", results / f"{name}-spans.json")
            capture["spans"] = str((results / f"{name}-spans.json").relative_to(ROOT))
        line = {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}
        (results / f"{name}.json").write_text(
            json.dumps({"capture": capture, **line}, indent=1) + "\n")
        return capture, line
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (LIB / "graft").is_dir():
        fail(f"library sources not found under {LIB.relative_to(ROOT)}", 2)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    consts = json.loads((HERE / "constants.json").read_text())
    digest = source_digest()
    cp = build(digest)
    if a.workload != "all":
        capture, line = one(a.workload, a.seed, a.seconds, a.trace == 1,
                            bench, consts, cp, digest)
        print("# capture " + json.dumps(capture, sort_keys=True))
        print(json.dumps(line))
        return
    # every figure of each measured pass, gated or not, with its unit
    units = {m["name"]: m["unit"] for m in bench["per_layer"] + bench["end_to_end"]}
    metrics, attempted, failed, correct = {}, 0, 0, True
    for w in WORKLOADS:
        capture, line = one(w, a.seed, a.seconds, a.trace == 1,
                            bench, consts, cp, digest)
        print("# capture " + json.dumps(capture, sort_keys=True))
        attempted += line["attempted"]
        failed += line["failed"]
        correct &= line["correct"]
        figures = line["metrics"] if a.trace else {
            k: {"value": v, "unit": units[k]} for k, v in capture["measured"].items()}
        for k, v in figures.items():
            metrics[f"{w}.{k}"] = v
        for k, v in capture["error_rates"].items():
            metrics[f"{w}.{k}_error_rate"] = {"value": v, "unit": "ratio"}
    for k, v in metrics.items():
        print(f"{k:40s} {v['value']:>14.4f} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
