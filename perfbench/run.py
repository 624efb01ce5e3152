#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload etl_batch|dedup_batch|serve_ingest \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the harness and the
graft library from source with sbt (offline) into the checkout; later
runs reuse that build while the sources are unchanged. Each run writes
its inputs from the seed, runs the workload in a fresh JVM on
local[<cores>], checks the outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones. The full
result (run facts, per-key and per-op detail, layer self times) is kept
in .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
HARNESS = BENCH / "harness"
RUN_LIMIT_S = 170

WORKLOADS = {
    "etl_batch": {"kind": "batch", "scale": 0.1},
    "dedup_batch": {"kind": "batch", "scale": 0.15},
    "serve_ingest": {"kind": "serve", "scale": 0.3},
}
# serve_ingest: the stream is blocks (gen.make_serve): one ingest of
# batch_docs documents, per_kind lookups of each kind, one compaction. The
# warm blocks are discarded; a timed run then times seconds / BLOCK_S
# blocks, a traced run traces the traced blocks, and the serve segment of
# a traced batch run (on a section_scale input) the section blocks. Two
# timed blocks are 108 lookups, enough for their tail to be p90. The mix
# and cadence are assumptions (see gen.py).
SERVE = {"per_kind": 9, "batch_docs": 20, "warm": [1], "traced": [9], "section": [1, 1],
         "replay": [3], "section_scale": 0.2, "order_days": 730}
# --seconds sets a run's work, not a deadline, so every run of a workload
# does the same work: batch runs make seconds / PASS_S timed passes over
# the keys (at least three: the first is still warming up, and the per-key
# median leaves it out), serve runs seconds / BLOCK_S timed blocks (at
# least two); PASS_S and BLOCK_S are the nominal times of one pass and one
# block on a 4-core host.
PASS_S, BLOCK_S = 7.0, 15.0

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build
def source_hash():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    files += [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala",
                 ROOT / "scripts" / "verify_local.py"):
        if not need.exists():
            fail(f"not a graft checkout: {need.relative_to(ROOT)} is missing")
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    digest = source_hash()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log("building graft and the harness with sbt")
    t0 = time.time()
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, capture_output=True, text=True, timeout=880)
    (BUILD / "build.log").write_text(res.stdout + res.stderr)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (exit {res.returncode}); see .bench_build/build.log")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


# ---------------------------------------------------------------- run
def run_harness(cp, args, run_dir, deadline):
    work = run_dir / "work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java)]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Harness",
            "--work", str(work), "--out", str(run_dir / "raw.json")] + args
    with open(run_dir / "harness.log", "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("harness did not finish in time", 3)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not (run_dir / "raw.json").exists():
        tail = (run_dir / "harness.log").read_text()[-3000:]
        fail(f"harness exited {code}\n{tail}", 3)
    return json.loads((run_dir / "raw.json").read_text())


def verify_batch(data, out_dir, deadline):
    """scripts/verify_local.py over graft.Verify's dump: per key PASS/FAIL
    against the DuckDB oracle SQL."""
    res = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "verify_local.py"), str(data), str(out_dir)],
        capture_output=True, text=True, timeout=max(5, deadline - time.time()))
    verdicts = {}
    for line in res.stdout.splitlines():
        if line[:1] in ("✅", "❌") and ":" in line:
            name, _, rest = line[2:].partition(":")
            verdicts[name.strip()] = (line[0] == "✅", rest.strip())
    return verdicts


# ---------------------------------------------------------------- metrics
def setup_seconds(raw):
    """Process start to the first timed op, with the repeatable set-up
    (serve_ingest's table writes and index builds) counted at its median
    over the reps the run made."""
    first = (raw["first_timed_op_ms"] - raw["jvm_start_ms"]) / 1e3
    reps = raw["setup_reps_s"]
    return first - sum(reps) + stats.median(reps) if reps else first


def batch_result(raw, verdicts):
    keys = {}
    for s in raw["key_samples"]:
        keys.setdefault(s["key"], []).append(s)
    detail, ops, failed = {}, [], 0
    for k, ss in keys.items():
        good = [s["build_ms"] + s["action_ms"] for s in ss if s["ok"]]
        ok_answer = verdicts.get(k, (False, "no verdict"))[0]
        failed += sum(1 for s in ss if not s["ok"] or not ok_answer)
        ops += good
        detail[k] = {"median_ms": stats.median(good), "min_ms": min(good, default=None),
                     "max_ms": max(good, default=None), "reps": len(ss),
                     "build_ms_median": stats.median([s["build_ms"] for s in ss]),
                     "oracle": verdicts.get(k, (False, "no verdict"))[1]}
    missing = [k for k, v in verdicts.items() if not v[0] and k not in keys]
    failed += len(missing)
    attempted = len(raw["key_samples"]) + len(missing)
    work = sum(d["median_ms"] for d in detail.values() if d["median_ms"] is not None) / 1e3
    return {"attempted": attempted, "failed": failed, "ops_ms": ops, "work_s": work,
            "detail": {"keys": detail, "passes": max(s["pass"] for s in raw["key_samples"])}}


def serve_result(raw):
    """work_s is the sum over op kinds (six lookups, four ingest steps)
    of each kind's median latency, so the stream's mix does not weight
    it; the op latency metrics are the lookups' (the read path a
    dashboard waits on)."""
    samples = raw["serve_samples"]
    timed = [s for s in samples if not s["warm"]]
    by_kind = {}
    for s in timed:
        if s["ok"]:
            by_kind.setdefault(s["kind"], []).append(s["ms"])
    lookups = [s["ms"] for s in timed if s["ok"] and s["kind"] in layers.LOOKUP_KINDS]
    ingest = [s["ms"] for s in timed if s["ok"] and s["kind"] in layers.INGEST_KINDS]
    failed = sum(1 for s in samples if not s["ok"])
    attempted = len(samples) + 1  # + the end-of-run index reconciliation
    if raw.get("final_reconcile"):
        failed += 1
    errors = sorted({s["error"] for s in samples if not s["ok"]} |
                    ({raw["final_reconcile"]} if raw.get("final_reconcile") else set()))
    return {"attempted": attempted, "failed": failed, "ops_ms": lookups,
            "work_s": sum(stats.median(v) for v in by_kind.values()) / 1e3,
            "detail": {
                "lookup_p50_ms": stats.median(lookups), "lookup_tail": stats.tail(lookups),
                "ingest_p50_ms": stats.median(ingest), "ingest_tail": stats.tail(ingest),
                "ops": {k: {"median_ms": stats.median(v), "min_ms": min(v), "max_ms": max(v),
                            "n": len(v)} for k, v in sorted(by_kind.items())},
                "warm_ops": sum(1 for s in samples if s["warm"]),
                "errors": errors[:20]}}


END_TO_END = {"work_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "setup_s": "s"}
# the harness's own timings of a run's phases, kept in the result
PHASES = ("session_s", "setup_reps_s", "setup_steps_s", "verify_pass_s", "measured_s",
          "trace_phases_s")


def run_facts(seed, cores, load0, raw):
    def git(*args):
        try:
            return subprocess.run(["git", *args], cwd=ROOT, capture_output=True, text=True,
                                  timeout=10).stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            return ""
    # only when the checkout itself is the repository's work tree
    top = git("rev-parse", "--show-toplevel")
    commit = git("rev-parse", "HEAD") if top and Path(top).resolve() == ROOT.resolve() else None
    return dict(raw.get("facts", {}), nproc=os.cpu_count(), cores=cores, seed=seed,
                loadavg_before=load0, loadavg_after=list(os.getloadavg()),
                git_commit=commit, source_hash=source_hash())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cfg = WORKLOADS[a.workload]
    load0 = list(os.getloadavg())
    cp = build()
    start = time.time()
    deadline = start + RUN_LIMIT_S
    run_dir = BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data = run_dir / "data"
    try:
        args = ["--workload", a.workload, "--data", str(data), "--trace", str(a.trace)]
        sv = SERVE
        timed = [sv["per_kind"]] * max(2, round(a.seconds / BLOCK_S))
        if cfg["kind"] == "batch":
            gen.make_tables(data, a.seed, cfg["scale"])
            if a.trace:
                sdata = run_dir / "serve_data"
                gen.make_serve(sdata, a.seed, sv["section_scale"], sv["warm"] + sv["section"],
                               sv["batch_docs"], sv["order_days"])
                args += ["--serve-data", str(sdata)]
        else:
            # the blocks after the timed or traced ones feed the traced
            # run's overhead replay
            gen.make_serve(data, a.seed, cfg["scale"],
                           sv["warm"] + max(timed, sv["traced"], key=len) + sv["replay"],
                           sv["batch_docs"], sv["order_days"])

        def n_ops(blocks):
            return str(sum(gen.block_ops(k) for k in blocks))
        args += ["--passes", str(max(3, round(a.seconds / PASS_S))),
                 "--timed-ops", n_ops(timed), "--warm-ops", n_ops(sv["warm"]),
                 "--traced-ops", n_ops(sv["traced"]), "--section-ops", n_ops(sv["section"])]
        t_gen = time.time()
        raw = run_harness(cp, args, run_dir, deadline)
        t_jvm = time.time()
        out_dir = BUILD / "results"
        out_dir.mkdir(parents=True, exist_ok=True)
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        shutil.copyfile(run_dir / "raw.json", out_dir / f"{name}.raw.json")
        cores = raw["facts"]["cores"]
        if cfg["kind"] == "batch":
            verdicts = verify_batch(data, run_dir / "work" / "verify", deadline)
            res = batch_result(raw, verdicts)
        else:
            res = serve_result(raw)
        result = {"workload": a.workload, "trace": a.trace,
                  "wall_s": {"inputs": t_gen - start, "jvm": t_jvm - t_gen,
                             "checks": time.time() - t_jvm},
                  "facts": run_facts(a.seed, cores, load0, raw),
                  "phases_s": {k: raw[k] for k in PHASES if k in raw},
                  "attempted": res["attempted"], "failed": res["failed"],
                  "fail_frac": res["failed"] / res["attempted"], "detail": res["detail"]}
        if a.trace:
            sdir = run_dir / "serve_data" if cfg["kind"] == "batch" else data
            meta = json.loads((sdir / "meta.json").read_text())
            try:
                metrics, attr = layers.layer_metrics(raw, cores, meta["corpus_text_bytes"])
            except ValueError as e:
                fail(str(e), 3)
            result["attribution"] = attr
            result["kernels"] = raw["kernels"]
            # one round only: full write vs .count() per key, as a bridge to
            # the committed count-based figures
            full = res["detail"].get("keys", {})
            result["count_bridge"] = {
                k: {"count_s": c, "full_s": full[k]["median_ms"] / 1e3 if k in full else None,
                    "full_over_count": full[k]["median_ms"] / 1e3 / c if k in full else None}
                for k, c in raw["count_bridge"].items()}
        else:
            tail = stats.tail(res["ops_ms"])
            metrics = {"work_s": res["work_s"], "op_p50_ms": stats.median(res["ops_ms"]),
                       "op_tail_ms": tail["value"] if tail else max(res["ops_ms"]),
                       "setup_s": setup_seconds(raw)}
            result["op_tail"] = tail
            result["measured_s"] = raw["measured_s"]
        result["metrics"] = metrics
        (out_dir / f"{name}.json").write_text(
            json.dumps(result, indent=1, sort_keys=True, default=str))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    correct = res["failed"] == 0
    units = layers.PER_LAYER if a.trace else END_TO_END
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
