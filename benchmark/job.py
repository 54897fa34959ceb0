"""One Spark application running one benchmark workload (a child of run.py).

    python3 benchmark/job.py <spec.json>

The spec names the workload, its generated inputs and expected outputs, the
seconds to measure and whether to trace.  The job starts the session the
program ships (``pipeline.default_session``), returns one Python UDF batch
(the end of set-up), then runs timed iterations until the seconds are spent,
checking every iteration's output.  There is no warm-up iteration: a batch
job is one application, so its first job after set-up is what users wait
for.  With tracing on, one traced iteration follows the timed ones and the
per-layer counters are collected.  The result is written as JSON to the
spec's ``result`` path.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import shutil
import sys
import threading
import time
import traceback

COMMITTED_AT = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)


class RssSampler(threading.Thread):
    """High-water RSS of a process tree: at each sample, the VmHWM of every
    live descendant of ``root`` summed; the largest such sum.  Python workers
    that come and go are counted while they live, not after.  A child the
    JVM has forked but not yet exec'd (same executable as its parent, named
    after the forking thread) shares the JVM's pages and is not counted."""

    def __init__(self, root: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.root, self.interval = root, interval
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._stop_evt = threading.Event()

    def _procs(self) -> dict[int, tuple[int, str, str, int]]:
        """pid -> (parent, name, executable, VmHWM kB) for live processes."""
        procs = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/status") as fh:
                    st = dict(line.split(":", 1) for line in fh if ":" in line)
                exe = os.readlink(f"/proc/{d}/exe")
            except OSError:
                continue
            hwm = int(st["VmHWM"].split()[0]) if "VmHWM" in st else 0
            procs[int(d)] = (int(st["PPid"]), st["Name"].strip(), exe, hwm)
        return procs

    def sample(self) -> None:
        procs = self._procs()
        tree, frontier = [self.root], [self.root]
        while frontier:
            p = frontier.pop()
            kids = [c for c, v in procs.items() if v[0] == p]
            tree.extend(kids)
            frontier.extend(kids)
        parts: dict[str, int] = {}
        for pid in tree:
            if pid not in procs:
                continue
            ppid, name, exe, hwm = procs[pid]
            parent = procs.get(ppid)
            if pid != self.root and parent and parent[2] == exe and parent[1] != name:
                continue
            kind = "driver" if pid == self.root else name
            parts[kind] = parts.get(kind, 0) + hwm
        total = sum(parts.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_parts = total, parts

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants, plus the reaped children each of them has waited for.
    Time the hypervisor steals from the host is not in it."""
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stats[int(d)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                pass
    ticks, frontier = 0, [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats:
            # fields after the command: state ppid ... utime(11) stime cutime cstime
            ticks += sum(int(x) for x in stats[pid][11:15])
        frontier.extend(c for c, f in stats.items() if int(f[1]) == pid)
    return ticks / os.sysconf("SC_CLK_TCK")


def du(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Workload:
    """One workload: its set-up, one iteration, and that iteration's check."""

    def __init__(self, spark, spec: dict):
        self.spark, self.spec = spark, spec
        self.work = spec["work_dir"]
        with open(spec["expected"]) as fh:
            self.expected = json.load(fh)
        self.facts: dict = {}  # counts an iteration's check learns, kept in its record

    def prepare(self) -> None:
        pass

    def reset(self) -> None:
        """Restore the on-disk state an iteration starts from (untimed)."""

    def traced_targets(self) -> list:
        return []

    def run(self, tracer) -> None:
        raise NotImplementedError

    def check(self) -> tuple[bool, str]:
        raise NotImplementedError

    def stored_bytes(self) -> tuple[int, int]:
        raise NotImplementedError


class CorpusNearDup(Workload):
    """corpus.build_corpus with the repetition gate on, writing the corpus."""

    def prepare(self) -> None:
        self.out = os.path.join(self.work, "corpus")
        self.report = None

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def cfg(self):
        from fa_spark.corpus import CorpusConfig

        c = self.expected["cfg"]
        return CorpusConfig(
            langs=tuple(c["langs"]), min_words=c["min_words"],
            min_uniq_ratio=c["min_uniq_ratio"], min_alpha_ratio=c["min_alpha_ratio"],
            near_dup_jaccard=c["near_dup_jaccard"], minhash_bands=c["minhash_bands"],
            max_top2gram_frac=c["max_top2gram_frac"],
            max_dup10gram_frac=c["max_dup10gram_frac"])

    def traced_targets(self) -> list:
        from fa_spark import corpus, pipeline
        from fa_spark.stages import text

        return [(corpus, "analyze_pages", "pipeline:analyze_pages"),
                (pipeline, "with_analysis", "stages.analyze:with_analysis"),
                (pipeline, "exact_dedup", "stages.dedup:exact_dedup"),
                (corpus, "minhash_band_pairs", "stages.dedup:minhash_band_pairs"),
                (corpus, "connected_components", "stages.graph:connected_components"),
                (text, "repetition_metrics", "stages.text:repetition_metrics")]

    def run(self, tracer) -> None:
        from fa_spark import corpus, sources

        read = sources.read_pages if tracer is None else tracer.wrap(
            sources.read_pages, "sources:read_pages")
        pages = read(self.spark, self.spec["input"])
        with tracer.span("corpus:build_corpus") if tracer else contextlib.nullcontext():
            _c, report = corpus.build_corpus(pages, self.cfg(), output_path=self.out)
        self.report = report

    def check(self) -> tuple[bool, str]:
        import pyarrow.parquet as pq

        r = self.report.collect()[0].asDict()
        want = self.expected["funnel"]
        bad = {k: (r.get(k), v) for k, v in want.items() if r.get(k) != v}
        if bad:
            return False, f"funnel (got, want): {bad}"
        self.facts["corpus_rows"] = r["n_corpus"]
        urls = sorted(pq.read_table(self.out, columns=["url"]).column("url").to_pylist())
        if urls != self.expected["urls"]:
            return False, f"corpus url set differs: {len(urls)} vs {len(self.expected['urls'])}"
        return True, ""

    def stored_bytes(self) -> tuple[int, int]:
        return du(self.out)


class ResumeIncrement(Workload):
    """lineage.run_resumable appending one increment to an output directory
    that already holds several committed runs, restored before each
    iteration."""

    RUN_ID = "increment"

    def prepare(self) -> None:
        """Build the committed history once per input size: the prior runs
        are the same for every seed, so their output directory is cached
        next to their pages and copied before each iteration.  run.py builds
        it in an application of its own, so the timed job never runs warm."""
        from fa_spark import lineage, sources

        self.template = self.spec["template"]
        self.base = os.path.join(self.work, "out")
        if not os.path.isdir(self.template):
            tmp = f"{self.template}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            priors = self.spec["priors"]
            for k, prior in enumerate(priors):
                t = time.monotonic()
                lineage.run_resumable(self.spark, sources.read_pages(self.spark, prior), tmp,
                                      f"prior-{k}",
                                      COMMITTED_AT - dt.timedelta(days=len(priors) - k))
                log(f"prior run {k}: {time.monotonic() - t:.2f} s")
            os.replace(tmp, self.template)
        self.template_du = du(self.template)

    def reset(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        shutil.copytree(self.template, self.base)

    def traced_targets(self) -> list:
        from fa_spark import lineage, pipeline

        return [(pipeline, "analyze_pages", "pipeline:analyze_pages"),
                (pipeline, "with_analysis", "stages.analyze:with_analysis"),
                (pipeline, "exact_dedup", "stages.dedup:exact_dedup"),
                (lineage, "recover", "lineage:recover"),
                (lineage, "read_processed", "lineage:read_processed"),
                (lineage, "filter_unprocessed", "lineage:filter_unprocessed"),
                (lineage, "commit_lineage", "lineage:commit_lineage"),
                (lineage, "write_commit_marker", "lineage:write_commit_marker")]

    def run(self, tracer) -> None:
        from fa_spark import lineage, sources

        read = sources.read_pages if tracer is None else tracer.wrap(
            sources.read_pages, "sources:read_pages")
        pages = read(self.spark, self.spec["input"])
        with tracer.span("lineage:run_resumable") if tracer else contextlib.nullcontext():
            lineage.run_resumable(self.spark, pages, self.base, self.RUN_ID, COMMITTED_AT)

    def check(self) -> tuple[bool, str]:
        import pyarrow.parquet as pq

        lin = os.path.join(self.base, "_lineage")
        marker = os.path.join(lin, "commits", f"{self.RUN_ID}.json")
        if not os.path.exists(marker):
            return False, "no commit marker"
        with open(marker) as fh:
            if json.load(fh).get("run_id") != self.RUN_ID:
                return False, "commit marker names another run"
        committed = {f[:-5] for f in os.listdir(os.path.join(lin, "commits"))
                     if f.endswith(".json")}
        seen: set[tuple[str, str]] = set()
        mine: set[tuple[str, str]] = set()
        for run in sorted(committed):
            t = pq.read_table(os.path.join(lin, "processed", f"run_id={run}"),
                              columns=["url", "sha"])
            for key in zip(t.column("url").to_pylist(), t.column("sha").to_pylist()):
                if key in seen:
                    return False, f"(url, sha) committed twice: {key}"
                seen.add(key)
                if run == self.RUN_ID:
                    mine.add(key)
        want = {tuple(k) for k in self.expected["committed"]}
        if mine != want:
            return False, f"increment committed {len(mine)} (url, sha), expected {len(want)}"
        rows = pq.read_table(os.path.join(self.base, "analysis", f"run_id={self.RUN_ID}"),
                             columns=["url"]).num_rows
        counters = pq.read_table(os.path.join(lin, "partitions", f"run_id={self.RUN_ID}"),
                                 columns=["input_rows"]).column("input_rows").to_pylist()
        if not rows == sum(counters) == len(want):
            return False, f"rows {rows}, counters {sum(counters)}, expected {len(want)}"
        return True, ""

    def stored_bytes(self) -> tuple[int, int]:
        files, size = du(self.base)
        return files - self.template_du[0], size - self.template_du[1]


WORKLOADS = {"corpus_neardup": CorpusNearDup, "resume_increment": ResumeIncrement}


def log(msg: str) -> None:
    print(f"job: {msg}", file=sys.stderr, flush=True)


def first_udf_batch(spark) -> None:
    """One page through the fused analysis UDF: the end of set-up."""
    from fa_spark.stages.analyze import with_analysis

    html = b"<html><head><title>t</title></head><body><p>warm</p></body></html>"
    df = spark.createDataFrame(
        [("https://setup.example/", COMMITTED_AT, html, "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    with_analysis(df).collect()


def iteration(wl: Workload, tracer=None) -> dict:
    wl.reset()
    rec = {"ok": False, "error": ""}
    cpu0 = tree_cpu_s(os.getpid())
    t0 = time.monotonic()
    try:
        if tracer is None:
            wl.run(None)
        else:
            from spans import patched

            with patched(wl.traced_targets(), tracer), tracer.span("run"):
                wl.run(tracer)
        rec["wall_s"] = time.monotonic() - t0
        rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
        rec["ok"], rec["error"] = wl.check()
        rec["files_written"], rec["bytes_written"] = wl.stored_bytes()
        rec.update(wl.facts)
    except Exception:  # a failed run is counted, not fatal
        rec["wall_s"] = time.monotonic() - t0
        rec["error"] = traceback.format_exc(limit=4)
    finally:
        if tracer is not None:
            tracer.release()
    return rec


def traced_iteration(wl: Workload, spark) -> dict:
    """One traced iteration plus the counters only it can see."""
    from pyspark.sql.classic.dataframe import DataFrame

    from spans import Tracer, ledger

    tracer = Tracer("traced")
    extra: dict = {}
    checkpoints = [0]
    orig_lcp = DataFrame.localCheckpoint

    def counting_lcp(self, *a, **kw):
        checkpoints[0] += 1
        return orig_lcp(self, *a, **kw)

    def sig_cache(_out) -> None:
        from py4j.protocol import Py4JError

        from fa_spark.stages import dedup

        # minhash_band_pairs registers its signature cache for release there
        try:
            extra["sig_cache_mb"] = cache_mb(spark, dedup._PAIR_CACHES[-1])
        except Py4JError:  # the cache manager's JVM API differs: leave it unmeasured
            pass

    def count_cc(_out) -> None:
        extra["cc_checkpoints"] = checkpoints[0]

    tracer.hooks["stages.dedup:minhash_band_pairs"] = sig_cache
    tracer.hooks["stages.graph:connected_components"] = count_cc
    DataFrame.localCheckpoint = counting_lcp
    try:
        rec = iteration(wl, tracer)
    finally:
        DataFrame.localCheckpoint = orig_lcp
    rec["ledger"] = ledger(tracer.spans)
    rec["spans"] = tracer.spans
    rec["rows"] = tracer.rows
    rec.update(extra)
    return rec


def cache_mb(spark, df) -> float:
    """In-memory size of a persisted DataFrame's cache, in MB."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    cached = cm.lookupCachedData(df._jdf)
    if cached.isEmpty():
        return 0.0
    return cached.get().cachedRepresentation().cacheBuilder().sizeInBytesStats().value() / 1e6


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    sampler = RssSampler(os.getpid())
    sampler.start()
    from fa_spark import pipeline

    spark = pipeline.default_session(app=f"benchmark-{spec['workload']}",
                                     cores=spec["slots"])
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.setJobGroup("setup", "setup")
    first_udf_batch(spark)
    result: dict = {"setup_s": time.monotonic() - spec["t_launch"]}
    log(f"setup: {result['setup_s']:.2f} s")

    wl = WORKLOADS[spec["workload"]](spark, spec)
    sc.setJobGroup("prepare", "prepare")
    wl.prepare()
    runs: list[dict] = []
    if spec.get("prepare_only"):  # the history is built; the job that times runs later
        spark.stop()
        with open(spec["result"], "w") as fh:
            json.dump(result, fh)
        return 0

    def run_phase(phase: str, k: int = 0) -> None:
        sc.setJobGroup(f"{phase}-{k}", phase)
        rec = traced_iteration(wl, spark) if phase == "traced" else iteration(wl)
        runs.append(dict(rec, phase=phase))
        log(f"{phase}-{k}: {rec['wall_s']:.2f} s ok={rec['ok']}")

    start = time.monotonic()
    k = 0
    while k == 0 or time.monotonic() - start < spec["seconds"]:
        run_phase("untraced", k)
        k += 1
    if spec["trace"]:
        run_phase("traced")
    sc.setJobGroup("done", "done")
    result["runs"] = runs
    result["peak_rss_mb"] = sampler.stop()
    result["peak_rss_parts_mb"] = {k: v / 1024.0 for k, v in sampler.peak_parts.items()}
    spark.stop()
    with open(spec["result"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
