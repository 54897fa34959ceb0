"""fa-spark benchmark: a near-dup corpus build and a resumable increment,
end to end and (traced) layer by layer.  See README.md in this directory.

    python3 benchmark/run.py --workload corpus_neardup --seed 1 --seconds 1 --trace 0

Inputs are generated from the seed before timing and cached under
``.bench_cache/`` in the checkout, keyed by workload, seed, size and a digest
of the generator, the references and ``fa_spark/``.  The Spark application
runs in a child process (``job.py``) so that set-up covers interpreter
start, package import, JVM launch and the first Python UDF batch.  Every
job's output is checked; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and the metrics (end-to-end with
``--trace 0``, per-layer with ``--trace 1``).  The line before it is the
record: environment stamp, input properties, the end-to-end figures
(``docs_per_s`` and ``failed_run_frac`` among them), and the reason for each
metric a workload cannot produce.  Exits 1 if any job failed its check, 2 if
the benchmark cannot run at all.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")
CHILD_TIMEOUT_S = 165


def fail(msg: str) -> None:
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def slots() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- inputs

def build_inputs(workload: str, seed: int, scale: float) -> str:
    """Generate (once) the pages, expected outputs and input properties."""
    import gen
    import oracle

    rows = max(40, int(gen.ROWS[workload] * scale))
    digest = source_digest()[:12]
    path = os.path.join(CACHE, "inputs", f"{workload}-s{seed}-n{rows}-{digest}")
    if os.path.exists(os.path.join(path, "meta.json")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    files = 2 * slots()
    meta: dict = {"workload": workload, "seed": seed, "rows": rows}
    if workload == "resume_increment":
        history = os.path.join(CACHE, "inputs", f"{workload}-history-n{rows}-{digest}")
        priors = gen.resume_history(rows)
        if not os.path.isdir(history):
            hist_tmp = f"{history}.tmp{os.getpid()}"
            for k, p in enumerate(priors):
                gen.write_pages(p, os.path.join(hist_tmp, f"prior-{k}"), files)
            os.replace(hist_tmp, history)
        table = gen.resume_increment(rows, seed)
        todo = [(u, hashlib.sha256(h).hexdigest()) for u, h, c in zip(
            table.column("url").to_pylist(), table.column("html").to_pylist(),
            table.column("gt_case").to_pylist()) if c in ("changed", "new")]
        expected = {"docs": table.num_rows, "committed": sorted(todo)}
        meta["history"] = history
        meta["prior_runs"] = len(priors)
        meta["prior_pages"] = sum(p.num_rows for p in priors)
        meta["processed_share"] = round(1 - len(todo) / table.num_rows, 4)
    else:
        table = gen.corpus_neardup(rows, seed)
        urls = table.column("url").to_pylist()
        ref = oracle.corpus_reference(urls, table.column("html").to_pylist())
        expected = {"docs": len(urls), "cfg": oracle.CORPUS_CFG, **ref}
        meta["cluster_member_share"] = round(sum(
            c.startswith("cluster") for c in table.column("gt_case").to_pylist()) / len(urls), 4)
        meta["near_dup_edges"] = ref["edges"]
    gen.write_pages(table, os.path.join(tmp, "pages"), files)
    meta["digest"] = gen.digest(table)
    meta["properties"] = gen.properties(table)
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def source_digest() -> str:
    """Digest of the generator, the references and the package they call:
    cached inputs and expected outputs are reused only while it holds."""
    h = hashlib.sha256()
    paths = [os.path.join(HERE, "gen.py"), os.path.join(HERE, "oracle.py")]
    for d, _s, fs in sorted(os.walk(os.path.join(ROOT, "fa_spark"))):
        paths += sorted(os.path.join(d, f) for f in fs if f.endswith(".py"))
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def pure_timings(inputs: str, seed: int) -> dict:
    """Single-threaded kernel costs on a seeded sample of the same input."""
    import random

    import pyarrow.parquet as pq

    from fa_spark import pure

    htmls = pq.read_table(os.path.join(inputs, "pages"), columns=["html"]).column("html").to_pylist()
    sample = random.Random(seed).sample(htmls, min(150, len(htmls)))
    pdfs = [h for h in htmls if h.startswith(b"%PDF-1.4")][:40]

    def per_doc(fn, docs) -> float:
        if not docs:
            return 0.0
        t = time.perf_counter()
        for d in docs:
            fn(d)
        return (time.perf_counter() - t) / len(docs) * 1e6

    out = {"pure.analyze_us_per_doc": per_doc(lambda b: pure.analyze_document(b, 64), sample),
           "pure.extract_us_per_doc": per_doc(pure.extract_main_text, sample),
           "pure.pdf_us_per_doc": per_doc(pure.extract_main_text, pdfs)}
    imports = []
    for _ in range(3):
        r = subprocess.run(
            [sys.executable, "-c", "import time; t = time.perf_counter(); import fa_spark.pure; "
             "print(time.perf_counter() - t)"],
            cwd=ROOT, env=dict(os.environ, PYTHONPATH=ROOT), capture_output=True, text=True,
            check=True, timeout=60)
        imports.append(float(r.stdout.strip()))
    out["pure.import_s"] = statistics.median(imports)
    return out


# ---------------------------------------------------------------- child run

def run_child(spec: dict, work: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = ["--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if spec["trace"]:
        os.makedirs(spec["event_log"], exist_ok=True)
        for conf in ("spark.eventLog.enabled=true",
                     f"spark.eventLog.dir=file://{spec['event_log']}",
                     "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"):
            submit += ["--conf", conf]
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM of the job (launcher and driver) keeps its files in the work dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": shlex.join([*submit, "pyspark-shell"]),
    })
    spec_path = os.path.join(work, "spec.json")
    log_path = os.path.join(work, "job.log")
    spec["result"] = os.path.join(work, "result.json")
    spec["t_launch"] = time.monotonic()  # set-up starts at the launch below
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "job.py"), spec_path],
                                cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    if code != 0 or not os.path.exists(spec["result"]):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"job exited with {code}")
    with open(spec["result"]) as fh:
        return json.load(fh)


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the child left in its session and wait for it to go."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        alive = False
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == proc.pid and fields[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.1)


# ---------------------------------------------------------------- metrics

def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(result: dict, meta: dict) -> dict:
    timed = [r for r in result["runs"] if r["phase"] == "untraced" and r["ok"]]
    docs = meta["properties"]["docs"]
    html_bytes = meta["properties"]["html_bytes"]
    runs = result["runs"]
    return {
        "docs_per_s": median_or_zero([docs / r["wall_s"] for r in timed]),
        "cpu_ms_per_doc": median_or_zero([r["cpu_s"] / docs * 1e3 for r in timed]),
        "setup_s": result["setup_s"],
        "peak_rss_mb": result["peak_rss_mb"],
        "stored_bytes_per_input_byte": median_or_zero(
            [r["bytes_written"] / html_bytes for r in timed]),
        "failed_run_frac": sum(not r["ok"] for r in runs) / len(runs),
    }


CORPUS_ONLY = ("dedup.minhash_pairs_s", "dedup.candidate_pairs", "dedup.pairs_kept_frac",
               "dedup.sig_cache_mb", "graph.cc_s", "graph.rounds", "graph.edges",
               "text.repetition_s", "corpus.self_s", "corpus.keep_frac")
LINEAGE_SPANS = {"lineage.recover_s": "lineage:recover",
                 "lineage.read_processed_s": "lineage:read_processed",
                 "lineage.antijoin_s": "lineage:filter_unprocessed",
                 "lineage.commit_s": "lineage:commit_lineage",
                 "lineage.marker_s": "lineage:write_commit_marker"}


def per_layer(result: dict, meta: dict, work: str, workload: str, pure: dict,
              ledger_path: str) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run and the reason for each one the
    workload cannot produce."""
    from eventlog import EventLog

    traced = next(r for r in result["runs"] if r["phase"] == "traced")
    untraced = [r for r in result["runs"] if r["phase"] == "untraced"]
    if not traced["ok"] or not all(r["ok"] for r in untraced):
        return {}, {}
    untraced_wall = untraced[0]["wall_s"]  # the cold first job, like the timed runs
    ev = EventLog(os.path.join(work, "eventlog"))
    n_docs = meta["properties"]["docs"]
    selfs = traced["ledger"]["self_s_by_span"]
    absent: dict[str, str] = {}
    m: dict[str, float] = dict.fromkeys(CORPUS_ONLY + tuple(LINEAGE_SPANS), 0.0)

    m["sources.scan_s"] = selfs.get("sources:read_pages", 0.0)
    m["sources.input_mb"] = du_bytes(os.path.join(meta["path"], "pages")) / 1e6

    # Python-node SQL metrics per untraced iteration: the program's own plan
    py = {k: v / len(untraced) for k, v in ev.python_metrics("untraced").items()}
    analyzed = n_docs if workload != "resume_increment" else round(
        n_docs * (1 - meta["processed_share"]))
    m["analyze.stage_s"] = selfs.get("stages.analyze:with_analysis", 0.0)
    m["analyze.python_boot_s"] = py["boot"]
    m["analyze.python_init_s"] = py["init"]
    m["analyze.python_total_s"] = py["total"]
    m["analyze.arrow_sent_mb"] = py["sent"] / 1e6
    m["analyze.arrow_recv_mb"] = py["recv"] / 1e6
    m["analyze.udf_evals_per_doc"] = py["rows"] / analyzed
    m["analyze.boundary_s"] = py["total"] - pure["pure.analyze_us_per_doc"] * py["rows"] / 1e6
    m.update(pure)
    if pure["pure.pdf_us_per_doc"] == 0.0:
        absent["pure.pdf_us_per_doc"] = "no PDF page in this input"
    m["dedup.exact_s"] = selfs.get("stages.dedup:exact_dedup", 0.0)

    if workload == "corpus_neardup":
        edges = traced["rows"].get("stages.dedup:minhash_band_pairs", 0)
        # the Jaccard estimate (zip_with over the two signatures) is the
        # verification step; the pairs entering it are the candidates
        cand = ev.rows_into("traced", "zip_with")
        m["dedup.minhash_pairs_s"] = selfs.get("stages.dedup:minhash_band_pairs", 0.0)
        m["dedup.candidate_pairs"] = cand
        m["dedup.pairs_kept_frac"] = edges / cand if cand else 0.0
        m["dedup.sig_cache_mb"] = traced.get("sig_cache_mb", 0.0)
        m["graph.cc_s"] = selfs.get("stages.graph:connected_components", 0.0)
        # connected_components checkpoints its edges and labels once, then
        # the labels once per round
        m["graph.rounds"] = max(0, traced.get("cc_checkpoints", 2) - 2)
        m["graph.edges"] = edges
        m["text.repetition_s"] = selfs.get("stages.text:repetition_metrics", 0.0)
        m["corpus.self_s"] = selfs.get("corpus:build_corpus", 0.0)
        m["corpus.keep_frac"] = traced["corpus_rows"] / n_docs
        if not cand:
            absent["dedup.candidate_pairs"] = "no plan node carrying the Jaccard check was found"
        if "sig_cache_mb" not in traced:
            absent["dedup.sig_cache_mb"] = "the JVM cache manager could not be queried"
        for name in (*LINEAGE_SPANS, "lineage.skip_frac"):
            absent[name] = "the workload does not run lineage.run_resumable"
        m["lineage.skip_frac"] = m["pipeline.sink_s"] = 0.0
        absent["pipeline.sink_s"] = "build_corpus writes inline; counted in corpus.self_s"
    else:
        for name, sp in LINEAGE_SPANS.items():
            m[name] = selfs.get(sp, 0.0)
        m["lineage.skip_frac"] = 1 - traced["rows"]["lineage:filter_unprocessed"] / n_docs
        # run_resumable writes the analysis parquet inline: its self time
        # is that write (plus a count over the already cached increment)
        m["pipeline.sink_s"] = selfs.get("lineage:run_resumable", 0.0)
        for name in CORPUS_ONLY:
            absent[name] = "the workload runs no near-dup corpus build"
    m["pipeline.files_written"] = traced["files_written"]
    m["pipeline.bytes_written_mb"] = traced["bytes_written"] / 1e6

    for key, value in ev.spark_metrics("traced").items():
        m[f"spark.{key}"] = value
    m["spark.core_busy_frac"] = m["spark.executor_run_s"] / (traced["wall_s"] * slots())
    m["trace.residual_frac"] = traced["ledger"]["residual_frac"]
    m["trace.overhead_frac"] = traced["wall_s"] / untraced_wall - 1
    m["failed_run_frac"] = 0.0  # every iteration passed its check (above)
    m["docs_per_s"] = n_docs / untraced_wall

    with open(ledger_path, "w") as fh:
        json.dump({"workload": workload, "seed": meta["seed"],
                   "wall_traced_s": traced["wall_s"], "wall_untraced_s": untraced_wall,
                   "self_s_by_layer": traced["ledger"]["self_s_by_layer"],
                   "residual_frac": m["trace.residual_frac"],
                   "overhead_frac": m["trace.overhead_frac"],
                   "spans": traced["spans"]}, fh, indent=1)
    return m, absent


def du_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------- main

def stamp(meta: dict, work: str) -> dict:
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "none"
    except OSError:
        commit = "none"
    fstype, best = "unknown", ""
    with open("/proc/mounts") as fh:
        for line in fh:
            _dev, mnt, fs = line.split()[:3]
            if work.startswith(mnt) and len(mnt) > len(best):
                fstype, best = fs, mnt
    return {"nproc": os.cpu_count(), "task_slots": slots(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "git_commit": commit,
            "source_digest": source_digest()[:16], "seed": meta["seed"], "docs": meta["rows"],
            "input_html_bytes": meta["properties"]["html_bytes"],
            "output_fs": f"{fstype} ({best})"}


def main() -> int:
    # a terminated run still stops its Spark application (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the default (the smoke test uses a small one)")
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "fa_spark")) or not os.path.exists(bench_json):
        fail("run from a checkout holding fa_spark/ and BENCHMARK.json")
    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401
    except ImportError:
        fail("pyspark is not importable")
    with open(bench_json) as fh:
        declared = json.load(fh)
    if args.workload not in {w["name"] for w in declared["workloads"]}:
        fail(f"unknown workload {args.workload!r}")

    inputs = build_inputs(args.workload, args.seed, args.scale)
    with open(os.path.join(inputs, "meta.json")) as fh:
        meta = json.load(fh)
    meta["path"] = inputs
    pure = pure_timings(inputs, args.seed) if args.trace else {}

    work = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spec = {"workload": args.workload, "seconds": args.seconds, "trace": bool(args.trace),
                "slots": slots(), "work_dir": work,
                "input": os.path.join(inputs, "pages"),
                "expected": os.path.join(inputs, "expected.json"),
                "priors": [os.path.join(meta.get("history", ""), f"prior-{k}")
                           for k in range(meta.get("prior_runs", 0))],
                "template": os.path.join(meta.get("history", ""), "template"),
                "event_log": os.path.join(work, "eventlog")}
        if spec["priors"] and not os.path.isdir(spec["template"]):
            run_child(dict(spec, prepare_only=True, trace=False), work)
        result = run_child(spec, work)
        e2e = end_to_end(result, meta)
        absent: dict[str, str] = {}
        layers: dict[str, float] = {}
        if args.trace:
            ledger_dir = os.path.join(CACHE, "ledger")
            os.makedirs(ledger_dir, exist_ok=True)
            layers, absent = per_layer(result, meta, work, args.workload, pure, os.path.join(
                ledger_dir, f"{args.workload}-s{args.seed}.json"))
        runs = result["runs"]
        errors = [r["error"] for r in runs if not r["ok"]]
        for e in errors[:3]:
            print(f"benchmark: failed iteration: {e}", file=sys.stderr)
        units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
        record = {"workload": args.workload, "environment": stamp(meta, work),
                  "input": {k: v for k, v in meta.items() if k != "path"},
                  "iterations": {p: sum(r["phase"] == p for r in runs)
                                 for p in ("traced", "untraced")},
                  "peak_rss_parts_mb": result["peak_rss_parts_mb"],
                  # a traced run's timings are not end-to-end figures
                  "end_to_end": {} if args.trace else {
                      k: {"value": v, "unit": units[k]} for k, v in e2e.items()},
                  "absent": absent}
        print(json.dumps({"record": record}))
        names = [m["name"] for m in declared["per_layer" if args.trace else "end_to_end"]]
        values = layers if args.trace else e2e
        metrics = {n: {"value": values[n], "unit": units[n]} for n in names if n in values}
        correct = not errors and len(metrics) == len(names)
        print(json.dumps({"correct": correct, "attempted": len(runs), "failed": len(errors),
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
