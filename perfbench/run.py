#!/usr/bin/env python3
"""graft benchmark: one workload per run, end-to-end or per-layer metrics.

  python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds graft plus the harness (sbt, once per source change), generates
the workload's inputs from the seed into a fresh scratch directory,
runs the workload in one JVM (Spark local[nproc], one client thread),
checks every output outside the timed region, and prints the metrics.
The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer with --trace 1).
Lines before it report every metric of the workload by name and unit.
A failed correctness check makes `correct` false and the exit code 1.
See README.md for the workloads, metrics and layers.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen       # noqa: E402
import metrics   # noqa: E402

WORKLOADS = ["warehouse_sql", "corpus_curation", "ingest_serve"]
RECALL_FLOOR = 0.9        # lookup_recall_at5 floor (also stated in BENCHMARK.json)
RUN_LIMIT_S = 175         # a run (after the build) must end within this
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ build

def _source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            for n in names:
                yield os.path.join(d, n)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def sources_stamp():
    # the checkout's location too: the classpath file holds absolute paths
    h = hashlib.sha256(ROOT.encode())
    for p in sorted(_source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft's sources and the harness; return the classpath."""
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "graftbench.stamp")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building graft and the harness with sbt")
    t0 = time.time()
    with open(os.path.join(target, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "writeClasspath"], cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=700)
    if r.returncode != 0 or not os.path.exists(cp_file):
        log(f"build failed (see {target}/build.log)")
        sys.exit(2)
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


# ------------------------------------------------------------------- run

def run_jvm(cp, workload, inputs, work, seconds, trace, seed, deadline):
    result = os.path.join(work, "result.json")
    for d in ("tmp", "local", "warehouse", "checkpoints"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{HEAP}", *opens, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            "-cp", cp, "graftbench.Main", workload, inputs, work, str(seconds),
            str(trace), str(seed), result])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if p.poll() is None:   # out of time, or this process is being stopped
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"the JVM run failed or ran out of time (exit {p.returncode}):\n{tail}")
    with open(result) as f:
        return json.load(f)


# ----------------------------------------------------------------- checks

def check_results(res, inputs, work):
    """Every correctness check of the run; returns a list of failures."""
    fails = []
    errs = [f"{o['name']} (pass {o['pass']}): {o['error']}" for o in res["ops"] if o["error"]]
    fails += [f"operation failed: {e}" for e in errs]
    wl = res["workload"]
    # the same result on every timed pass, never empty for a query, and
    # (warehouse_sql, corpus_curation) the one the oracle check read: the
    # warm-up pass's dumped result, fingerprinted by the same sink
    warm = {k: (v[0], v[1]) for k, v in res.get("warmup_fingerprints", {}).items()}
    seen = {}
    for o in res["ops"]:
        if not o["error"]:
            seen.setdefault(o["name"], set()).add((o["rows"], o["hash"]))
    for name, v in sorted(seen.items()):
        if len(v) != 1:
            fails.append(f"{name}: result checksum differs between passes: {sorted(v)}")
        elif wl != "ingest_serve" and next(iter(v))[0] <= 0:
            fails.append(f"{name}: empty result")
        elif wl != "ingest_serve" and warm.get(name) not in v:
            fails.append(f"{name}: timed result {sorted(v)} differs from the checked "
                         f"warm-up result {warm.get(name)}")
    if wl in ("warehouse_sql", "corpus_curation"):
        fails += oracle_check(inputs, os.path.join(work, "dump"))
    if wl == "ingest_serve":
        fails += ingest_check(res, inputs)
    return fails


def oracle_check(inputs, dump):
    """tools/check.py over the warm-up pass's dumped results: oracle
    queries exact against DuckDB, rows-only queries non-empty."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), inputs, dump],
                       capture_output=True, text=True, timeout=120)
    if r.returncode == 0:
        return []
    lines = [x.strip() for x in r.stdout.splitlines() if x.startswith("  ")]
    return [f"oracle: {x}" for x in lines] or [f"oracle check failed: {r.stdout[-500:]}{r.stderr[-500:]}"]


def exact_top5(inputs):
    import numpy as np
    import pyarrow.parquet as pq
    base = pq.read_table(os.path.join(inputs, "embeddings.parquet")).to_pydict()
    ids = np.array(base["vec_id"])
    m = np.array(base["embedding"], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    out = {}
    d = os.path.join(inputs, "lookup_vecs")
    for name in sorted(os.listdir(d)):
        q = pq.read_table(os.path.join(d, name)).to_pydict()
        qv = np.array(q["embedding"], dtype=np.float64)
        qv /= np.linalg.norm(qv, axis=1, keepdims=True)
        sims = qv @ m.T
        for qid, row in zip(q["vec_id"], sims):
            out[qid] = set(ids[np.argsort(-row, kind="stable")[:5]].tolist())
    return out


def lookup_recall(res, inputs):
    exact = exact_top5(inputs)
    got = {}
    for qid, nid, _ in res["lookup_ann"]:
        got.setdefault(qid, set()).add(nid)
    return statistics.mean(len(got.get(q, set()) & e) / 5.0 for q, e in exact.items())


def ingest_check(res, inputs):
    fails = []
    with open(os.path.join(inputs, "truth.json")) as f:
        truth = json.load(f)
    admitted = set(res["admitted"])
    want = set(truth["admitted"])
    if admitted != want:
        fails.append(f"near-dup gate: admitted {len(admitted)} docs, planted truth admits "
                     f"{len(want)}; wrongly admitted {sorted(admitted - want)[:10]}, "
                     f"wrongly dropped {sorted(want - admitted)[:10]}")
    status = {str(k): v for k, v in res["lookup_status"]}
    bad = [k for k, v in truth["lookup_status"].items() if status.get(k) != v]
    if bad:
        fails.append(f"dedup lookups: {len(bad)} verdicts differ from planted truth, "
                     f"e.g. {bad[0]}: got {status.get(bad[0])}, want "
                     f"{truth['lookup_status'][bad[0]]}")
    if res["view_diff_rows"] != 0 or res["view_rows"] <= 0:
        fails.append(f"incremental view != full recompute over the snapshot "
                     f"({res['view_diff_rows']} differing rows of {res['view_rows']})")
    recall = lookup_recall(res, inputs)
    res["_recall"] = recall
    if recall < RECALL_FLOOR:
        fails.append(f"lookup_recall_at5 {recall:.3f} < floor {RECALL_FLOOR}")
    return fails


# ----------------------------------------------------------------- report

def gate_metrics(res, inputs):
    with open(os.path.join(inputs, "truth.json")) as f:
        truth = json.load(f)
    admitted = set(res["admitted"])
    dropped_truth, new_truth = set(truth["dropped"]), set(truth["admitted"])
    return {"gate.dup_recall": len(dropped_truth - admitted) / max(1, len(dropped_truth)),
            "gate.new_admit_frac": len(new_truth & admitted) / max(1, len(new_truth))}


def streamed_docs(inputs):
    import pyarrow.parquet as pq
    d = os.path.join(inputs, "stream_docs")
    return sum(pq.ParquetFile(os.path.join(d, n)).metadata.num_rows for n in os.listdir(d))


def one_run(cp, workload, seed, seconds, trace, started):
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        t0 = time.perf_counter()
        gen.generate(workload, seed, inputs)
        gen_s = time.perf_counter() - t0
        res = run_jvm(cp, workload, inputs, work, seconds, trace, seed,
                      started + RUN_LIMIT_S - 15)
        fails = check_results(res, inputs, work)
        n_docs = streamed_docs(inputs) if workload == "ingest_serve" else None
        e2e = metrics.end_to_end(res, gen_s, n_docs)
        if workload == "ingest_serve":
            e2e["lookup_recall_at5"] = res.get("_recall")
        layer = None
        if trace:
            layer = metrics.per_layer(res)
            if workload == "ingest_serve":
                layer.update(gate_metrics(res, inputs))
            write_spans(res, workload, e2e, layer)
        with open(os.path.join(inputs, "planted.json")) as f:
            planted = json.load(f)
        return res, e2e, layer, fails, planted
    finally:
        shutil.rmtree(work, ignore_errors=True)


def provenance(res):
    prov = {k: res[k] for k in ("seed", "nproc", "heap_max_mb", "loadavg_start",
                                "loadavg_max", "session_s", "warmup_s", "fit_s")}
    prov["git_commit"] = git_commit()
    return prov


def write_spans(res, workload, e2e, layer):
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{workload}-seed{res['seed']:g}-trace.json"), "w") as f:
        json.dump({"workload": workload, "provenance": provenance(res), "end_to_end": e2e,
                   "per_layer": layer, "spans": res["spans"]}, f)


def fmt(v):
    return "n/a" if v is None else (f"{v:.6g}" if isinstance(v, float) else str(v))


def report(workload, res, e2e, layer, fails, planted):
    samples = e2e.get("_samples", {})
    print(f"# {workload}: {json.dumps(provenance(res), sort_keys=True)}")
    print(f"# planted inputs: {json.dumps(planted, sort_keys=True)}")
    for name, v in list(e2e.items()) + list((layer or {}).items()):
        if name.startswith("_"):
            continue
        note = ""
        if name in samples:
            note = f"  (samples: {samples[name]})" if v is not None else \
                f"  (samples: {samples[name]}; fewer than ten beyond the percentile)"
        if name == "failed_frac":
            note = f"  ({sum(1 for o in res['ops'] if o['error'])} of {len(res['ops'])} operations)"
        unit = metrics.UNITS.get(name, "s" if name.endswith("_s") else "count")
        print(f"{workload}  {name} = {fmt(v)} {unit}{note}")
    if layer:
        tw, uw = layer["_traced_wall_s"], layer["_untraced_wall_s"]
        print(f"{workload}  median looped pass wall: traced {tw:.4f} s, untraced {uw:.4f} s")
        if workload == "corpus_curation":
            qs = layer["_query_sum_s"]
            print(f"{workload}  summed per-query time {qs:.4f} s of traced pass wall "
                  f"{tw:.4f} s; gap {tw - qs:.4f} s (storage reads, release, loop)")
    for f in fails:
        print(f"{workload}  CHECK FAILED: {f}")


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _stop(signum, frame):
    # unwind through the finally blocks: they stop the JVM and remove
    # the run's scratch directory
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _stop)
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "tools", "check.py")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft's sources (src/main/scala/graft) and tools/check.py are not "
            "beside the benchmark; run from a full checkout")
        return 2
    spec = benchmark_spec()
    cp = build()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    correct, attempted, failed, last = True, 0, 0, {}
    for wl in names:
        started = time.time()
        try:
            res, e2e, layer, fails, planted = one_run(cp, wl, a.seed, a.seconds, a.trace,
                                                      started)
        except (RuntimeError, subprocess.SubprocessError, AssertionError) as e:
            log(f"{wl}: {e}")
            return 1
        report(wl, res, e2e, layer, fails, planted)
        correct = correct and not fails
        attempted += sum(1 for o in res["ops"])
        failed += sum(1 for o in res["ops"] if o["error"])
        listed = spec["per_layer"] if a.trace else spec["end_to_end"]
        src = layer if a.trace else e2e
        prefix = f"{wl}." if a.workload == "all" else ""
        last.update({prefix + m["name"]: {"value": src[m["name"]], "unit": m["unit"]}
                     for m in listed})
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": last}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
