#!/usr/bin/env python3
"""kgbench: end-to-end and per-layer benchmark of spark-kg.

    python3 kgbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 kgbench/run.py --smoke          # every workload, tiny inputs

Run from the repository root. One process is one run of one workload: a
fresh ``local[nproc]`` session with 2 x nproc shuffle partitions and a
pinned ``spark.driver.memory`` (``_build_scale`` sets an AQE advisory size for the
whole session, which must not leak into another workload). Load model: a
closed loop with one client; passes run back to back from one process,
and throughput is reported at the workload's stated input size.

A run (1) generates the workload's inputs from ``--seed`` (untimed,
reused for a repeated seed); (2) sets up: session, package shipping and
a warm-up on a 1/10 slice (curate_kg_ckpt: a cold checkpointed run;
without it the timed cold run carries first-run JIT and codegen costs
that vary 23-39 s between runs). For the KG workloads the warm-up runs
the scale and the parity path (``articles_cap=0``) on the slice, checked
against each other, then the full-size checkpointed build whose unchanged
reruns are timed as ``resume_s``; (3) runs passes until ``--seconds`` have
passed, checking every pass's triple count and order-insensitive hash
against the generator's oracle; (4) prints one JSON line of detail
(host facts, every pass, expected outputs), then the result line.

End-to-end metrics (``--trace 0``):
  setup_s             process start to the end of set-up, less input generation
  wall_s              median pass: kg_* the ``build_triples`` call plus the triples
                      written to the noop sink; curate_kg_ckpt a cold
                      ``run_full_checkpointed`` into an empty directory
  files_per_s         input files / wall_s
  triples_per_s       triples emitted / wall_s
  resume_s            median unchanged rerun over a completed checkpoint directory
                      (each pass is followed by one):
                      curate_kg_ckpt ``run_full_checkpointed``; kg_* the scale-path
                      build run as one ``plans.manifest.run_stage`` stage
  worker_peak_rss_mb  largest VmHWM of the PySpark Python workers after the passes
Failed passes (an exception or a wrong output) count in ``failed`` against
``attempted``.

Per-layer metrics (``--trace 1``) come from a separate run with the file
event log on: each layer's public function is called under its own job
group and timed from outside; see ``attribute`` for how stages map to
layers. Layers a workload does not run report 0.

Everything a run writes stays under ``.kgbench_work/`` in the current
directory (inputs, Spark local dirs, event logs, checkpoints, results).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, replace


def _process_start() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


@dataclass(frozen=True)
class Workload:
    spec: gen.Spec
    curation: bool


# Why each workload exists is stated in BENCHMARK.json. kg_short_dense
# (short files, dense mentions: pairs, support and scoring dominate) is
# runnable here but not in BENCHMARK.json: the benchmark's full set of
# runs over three workloads does not fit its run-time budget on 4 CPUs.
WORKLOADS = {
    "kg_long_sparse": Workload(
        gen.Spec(n_files=700, tokens=1200, n_pkg=400, n_fn=1200, surface_every=48, n_vecs=2000, dim=64),
        False,
    ),
    "kg_short_dense": Workload(
        gen.Spec(n_files=2000, tokens=120, n_pkg=4000, n_fn=16000, surface_every=4.5, n_vecs=30000, dim=128),
        False,
    ),
    "curate_kg_ckpt": Workload(
        gen.Spec(
            n_files=1500, tokens=300, n_pkg=400, n_fn=1200, surface_every=24, n_vecs=2000, dim=64,
            exact_clones=45, near_clones=45, contaminated=30, low_quality=15, holdout_every=20,
        ),
        True,
    ),
}
SMOKE_FILES = 120
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "3g"  # well under host RAM; the session default is 16g
N_BUCKETS = 2  # checkpoint buckets per bucket-local stage
LAYERS = (
    "ingest", "mentions", "pairs", "support", "scoring", "signals",
    "dedup_exact", "dedup_minhash", "dedup_keepers", "decon", "manifest",
)
MAX_PASSES = 50
MIN_KG_SAMPLES = 3  # KG passes are short: take a median of at least three
HARD_STOP_S = 110.0  # no new pass starts this long after process start


# ---------------------------------------------------------------- host


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """user/sys/iowait/steal shares of all CPU time between two reads."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    # fields: user nice system idle iowait irq softirq steal ...
    return {
        "user": (d[0] + d[1]) / total,
        "sys": (d[2] + d[5] + d[6]) / total,
        "iowait": d[4] / total,
        "steal": d[7] / total if len(d) > 7 else 0.0,
    }


def cpu_pressure() -> dict[str, float]:
    """CPU pressure (PSI "some" line): avg10/avg60 in %, total stall in
    microseconds; empty where the kernel does not expose it."""
    try:
        with open("/proc/pressure/cpu") as fh:
            line = fh.readline().split()
    except OSError:
        return {}
    return {k: float(v) for k, v in (f.split("=") for f in line[1:])}


def host_facts(root: str) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    commit = "unknown"
    if os.path.isdir(os.path.join(root, ".git")):
        res = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = res.stdout.strip() or commit
    # a checkout without .git still identifies the program by its source
    src = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "bio_re_with_entity_embeddings_spark", "**", "*.py"), recursive=True)):
        with open(path, "rb") as fh:
            src.update(fh.read())
    return {
        "nproc": NPROC,
        "mem_total_mb": mem_kb // 1024,
        "loadavg_start": os.getloadavg(),
        "cpu_psi_start": cpu_pressure(),
        "git_commit": commit,
        "source_sha": src.hexdigest()[:16],
    }


def worker_peak_rss_mb() -> float:
    """Largest VmHWM among this process's PySpark Python workers."""
    me, peak = os.getpid(), 0
    for status in glob.glob("/proc/[0-9]*/status"):
        try:
            with open(status) as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
            with open(status[: -len("status")] + "cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue  # exited while scanning
        is_worker = b"pyspark" in cmd and (b"daemon" in cmd or b"worker" in cmd)
        if not is_worker:
            continue
        if _has_ancestor(int(fields["Pid"]), me) and "VmHWM" in fields:
            peak = max(peak, int(fields["VmHWM"].split()[0]))
    return peak / 1024.0


def _has_ancestor(pid: int, ancestor: int) -> bool:
    while pid > 1:
        if pid == ancestor:
            return True
        try:
            with open(f"/proc/{pid}/stat") as fh:
                pid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            return False
    return False


# ------------------------------------------------------------- session


class Bench:
    """One run: session, inputs, passes and the output check."""

    def __init__(self, name: str, wl: Workload, seed: int, work: str, trace: bool):
        from pyspark.sql import functions as F

        from bio_re_with_entity_embeddings_spark import fixtures
        from bio_re_with_entity_embeddings_spark.deploy import ensure_shipped
        from bio_re_with_entity_embeddings_spark.session import get_spark

        self.F = F
        self.wl, self.work = wl, work
        self.inputs = os.path.join(work, "inputs", f"{name}-{seed}-{wl.spec.n_files}")
        self.expected = gen.generate(wl.spec, seed, self.inputs, wl.curation)
        self.t_setup = time.time()
        for d in ("local", "tmp", "events", "ckpt"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if trace:
            self.event_dir = os.path.join(work, "events", f"{name}-{seed}-{os.getpid()}")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name=f"kgbench-{name}", master=f"local[{NPROC}]",
            shuffle_partitions=2 * NPROC, extra_conf=conf,
        )
        ensure_shipped(self.spark)
        self.setup_parts = {"session_s": time.time() - self.t_setup}
        self.sc = self.spark.sparkContext
        read = self.spark.read.parquet
        self.dictionary = [fixtures.DictEntry(*e) for e in self.expected["dictionary"]]
        self.embeddings = read(os.path.join(self.inputs, "embeddings.parquet"))
        self.entities = read(os.path.join(self.inputs, "entities.parquet"))
        parts = ("corpus", "warmup")
        self.corpus = {k: read(os.path.join(self.inputs, f"{k}.parquet")) for k in parts}
        self.n_files = pq.read_metadata(os.path.join(self.inputs, "corpus.parquet")).num_rows
        self.benchmark = {
            k: read(os.path.join(self.inputs, f"{k}_benchmark.parquet")) if wl.curation else None
            for k in parts
        }

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def sink(self, triples) -> tuple[int, str]:
        """Write the triples to the noop sink and, in the same job, their
        count and hash over (subj, pred, obj, n_docs, round(score, 6))
        with the score rounded as floor(score * 1e6 + 0.5)."""
        from pyspark.sql import Observation

        F = self.F
        q = F.floor(F.col("score") * 1e6 + 0.5).cast("string")
        row = F.concat_ws("|", "subj", "pred", "obj", F.col("n_docs").cast("string"), q)
        h = F.conv(F.substring(F.sha2(row, 256), 1, 15), 16, 10).cast("decimal(38,0)")
        obs = Observation("kgbench_check")
        triples.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).write.format(
            "noop"
        ).mode("overwrite").save()
        res = obs.get
        return int(res["n"]), str(res["h"] or 0)

    def ok(self, got: tuple[int, str], part: str) -> bool:
        exp = self.expected[part]
        good = got == (exp["triples"], exp["hash"])
        if not good:
            print(f"output mismatch on {part}: got {got}, expected {(exp['triples'], exp['hash'])}", file=sys.stderr)
        return good

    # ------------------------------------------------------ KG passes

    def build(self, corpus, cap: int = -1) -> dict:
        from bio_re_with_entity_embeddings_spark.plans import pipeline as P

        return P.build_triples(
            self.spark, corpus, self.dictionary, self.embeddings,
            P.PipelineConfig(articles_cap=cap), entities=self.entities,
        )

    def kg_pass(self, part: str = "corpus", cap: int = -1) -> bool:
        return self.ok(self.sink(self.build(self.corpus[part], cap)["triples"]), part)

    def kg_stage(self, base: str, run_id: str) -> bool:
        """The scale-path build as one checkpointed global stage of the
        library's manifest machinery (how the KG runner checkpoints its
        triples tail); rerunning it over ``base`` is the KG resume."""
        from bio_re_with_entity_embeddings_spark.plans import manifest as M
        from bio_re_with_entity_embeddings_spark.plans import pipeline as P

        F = self.F
        stage_in = M.with_bucket(P.ingest(self.corpus["corpus"]), "repo", 1)
        out = M.run_stage(
            self.spark, base, "kg_triples", stage_in,
            lambda todo: self.build(todo.drop("bucket"))["triples"].withColumn("bucket", F.lit(0)),
            run_id=run_id,
        )
        return self.ok(self.sink(out.drop("bucket")), "corpus")

    # ------------------------------------------------ curation passes

    def full(self, part: str, base: str, run_id: str):
        from bio_re_with_entity_embeddings_spark.plans import full

        return full.run_full_checkpointed(
            self.spark, self.corpus[part], self.dictionary, self.embeddings, base,
            benchmark=self.benchmark[part], n_buckets=N_BUCKETS, run_id=run_id,
            entities=self.entities,
        )

    def full_pass(self, part: str, base: str, run_id: str) -> bool:
        return self.ok(self.sink(self.full(part, base, run_id)["triples"]), part)

    def fresh_dir(self, tag: str) -> str:
        base = os.path.join(self.work, "ckpt", tag)
        shutil.rmtree(base, ignore_errors=True)
        return base

    # ---------------------------------------------------------- setup

    def warm_up(self) -> bool:
        t = time.time()
        if self.wl.curation:
            good = self.full_pass("warmup", self.fresh_dir("warmup"), "warmup")
            self.setup_parts["warm_up_s"] = time.time() - t
            return good
        good = self.kg_pass("warmup", -1)
        good = self.kg_pass("warmup", 0) and good  # scale path == parity path
        self.setup_parts["warm_slice_s"] = time.time() - t
        # the checkpointed stage the timed reruns resume
        good = self.kg_stage(self.fresh_dir("kg_stage"), "cold") and good
        self.setup_parts["warm_up_s"] = time.time() - t
        return good

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and its Python
        workers) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ------------------------------------------------------------ timed run


class Passes:
    """Closed-loop pass counter for one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, fn) -> float | None:
        """Time ``fn`` (which returns whether its output checked out);
        None if it raised or failed the check."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            good = fn()
        except Exception:  # a failing pass is counted, not fatal
            traceback.print_exc()
            good = False
        wall = time.perf_counter() - t
        if not good:
            self.failed += 1
            return None
        return wall


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def timed_run(b: Bench, seconds: float, passes: Passes) -> tuple[dict, dict]:
    """Closed loop of (pass, unchanged rerun) pairs until ``seconds`` have
    passed; the KG workloads take at least ``MIN_KG_SAMPLES`` of each."""
    walls: list[float] = []
    resumes: list[float] = []
    stage = os.path.join(b.work, "ckpt", "kg_stage")  # written by the warm-up
    need = 1 if b.wl.curation else MIN_KG_SAMPLES
    deadline = time.time() + seconds
    for i in range(MAX_PASSES):
        if b.wl.curation:
            base = b.fresh_dir("corpus")
            wall = passes.run(lambda: b.full_pass("corpus", base, f"cold{i}"))
            rerun = lambda: b.full_pass("corpus", base, f"rerun{i}")  # noqa: E731
        else:
            wall = passes.run(b.kg_pass)
            rerun = lambda: b.kg_stage(stage, f"rerun{i}")  # noqa: E731
        if wall is not None:
            walls.append(wall)
            res = passes.run(rerun)
            if res is not None:
                resumes.append(res)
        now = time.time()
        if (now >= deadline and len(walls) >= need) or now - T_PROCESS > HARD_STOP_S:
            break
    wall = _median(walls)
    exp = b.expected["corpus"]
    metrics = {
        "wall_s": wall,
        "files_per_s": b.n_files / wall if wall else 0.0,
        "triples_per_s": exp["triples"] / wall if wall else 0.0,
        "resume_s": _median(resumes),
        "worker_peak_rss_mb": worker_peak_rss_mb(),
    }
    detail = {"walls": walls, "resumes": resumes}
    if len(walls) >= 4:
        q = statistics.quantiles(walls, n=4)
        detail["wall_quartiles"] = [q[0], q[2]]
    return metrics, detail


# ----------------------------------------------------------- traced run


def traced_run(b: Bench, seconds: float, passes: Passes, names: list[str]) -> tuple[dict, dict]:
    """Traced passes until ``seconds`` pass; each per-layer metric in
    ``names`` is its median over passes (0 for a layer that never ran)."""
    per_pass: list[tuple[str, dict]] = []
    deadline = time.time() + seconds
    fn = traced_curation_pass if b.wl.curation else traced_kg_pass
    for k in range(MAX_PASSES):
        vals: dict = {}
        if passes.run(lambda: fn(b, f"p{k}", vals)) is not None:
            per_pass.append((f"p{k}", vals))
        if time.time() >= deadline or time.time() - T_PROCESS > HARD_STOP_S or b.wl.curation:
            break
    b.stop()
    log = eventlog.parse(glob.glob(os.path.join(b.event_dir, "*"))[0])
    layer_rows = [attribute(log, p, vals) for p, vals in per_pass]
    windows = [vals["windows"] for _, vals in per_pass if "windows" in vals]
    metrics = {key: _median([row.get(key, 0.0) for row in layer_rows]) for key in names}
    census = {g: dict(c) for g, c in log.census.items()}
    return metrics, {"census": census, "passes": layer_rows, "manifest_stages": windows}


def _timed(vals: dict, key: str, fn):
    t = time.perf_counter()
    out = fn()
    vals[key] = time.perf_counter() - t
    return out


def _new_files(d: str, before: set[str]) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for f in set(os.listdir(d)) - before)


def traced_kg_pass(b: Bench, p: str, vals: dict) -> bool:
    """ingest -> mentions (the build_triples call: detector checkpoint
    plus scoring's embedding collect) -> tail (pairs map stage, support
    reduce stage) -> scoring alone on the materialized support rows."""
    from bio_re_with_entity_embeddings_spark.operators import scoring
    from bio_re_with_entity_embeddings_spark.plans import pipeline as P

    F = b.F
    b.group(f"{p}:ingest")
    docs = _timed(vals, "ingest", lambda: P.ingest(b.corpus["corpus"]).localCheckpoint(eager=True))
    b.group(f"{p}:mentions")
    out = _timed(vals, "mentions", lambda: b.build(docs))
    b.group(f"{p}:tail")
    got = _timed(vals, "tail", lambda: b.sink(out["triples"]))
    b.group(f"{p}:count")
    n_docs = docs.count()
    vals["mentions.docs_hit_ratio"] = out["mentions"].count() / n_docs if n_docs else 0.0
    vals["pairs.rows_out"] = out["pairs"].count()
    dim = out["entity_dim"]
    support = (
        out["pairs"].groupBy("subj", "obj").agg(F.count(F.lit(1)).alias("n_docs"))
        .join(F.broadcast(dim.select(F.col("idx").alias("subj"), F.col("entity_id").alias("s"))), "subj")
        .join(F.broadcast(dim.select(F.col("idx").alias("obj"), F.col("entity_id").alias("o"))), "obj")
        .select(F.col("s").alias("subj"), F.col("o").alias("obj"), "n_docs")
        .localCheckpoint(eager=True)
    )
    vals["support.rows_out"] = support.count()
    b.group(f"{p}:scoring")
    tmp = b.sc._temp_dir
    before = set(os.listdir(tmp))
    scored = _timed(vals, "scoring.collect_s", lambda: scoring.score_pairs(support, b.entities, b.embeddings))
    vals["scoring.broadcast_bytes"] = _new_files(tmp, before)
    _timed(vals, "scoring_sink", lambda: scored.write.format("noop").mode("overwrite").save())
    vals["scoring.emit_ratio"] = got[0] / vals["support.rows_out"] if vals["support.rows_out"] else 0.0
    return b.ok(got, "corpus")


def traced_curation_pass(b: Bench, p: str, vals: dict) -> bool:
    """Cold ``run_full_checkpointed`` (one job group, split into layers by
    the stage manifests its runners write, see ``_stage_at``); the
    curation chain's steps called one by one on the materialized signals
    it returned; then the unchanged rerun (the manifest layer)."""
    from bio_re_with_entity_embeddings_spark.operators import curation as CUR
    from bio_re_with_entity_embeddings_spark.operators import dedup as DD
    from bio_re_with_entity_embeddings_spark.plans import curation as PC

    F = b.F
    base = b.fresh_dir("traced")
    b.group(f"{p}:cold")
    t = time.perf_counter()
    out = b.full("corpus", base, "cold")
    got = b.sink(out["triples"])
    vals["cold_s"] = time.perf_counter() - t
    vals["manifest.bytes_written"] = sum(
        os.path.getsize(f) for f in glob.glob(f"{base}/**/*", recursive=True) if os.path.isfile(f)
    )
    vals["windows"] = manifest_windows(b, base, "cold")

    sig = out["cur_signals"].drop("bucket")
    cfg = PC.CurationConfig()  # the chain's settings, as the runner uses them
    minhash = dict(
        n_hashes=cfg.minhash_hashes, bands=cfg.minhash_bands, hash_mode=cfg.hash_mode,
        max_bucket_size=cfg.max_bucket_size,
    )
    # the quality gate and exact step of plans/curation.py::_chain, which
    # has no public entry point: min-doc keeper per fingerprint among the
    # quality-passed signals, merge-joined back
    gate = F.col("quality") >= cfg.min_quality
    if cfg.langs is not None:
        gate = gate & F.col("lang").isin(cfg.langs)
    qp = sig.where(gate)
    b.group(f"{p}:dedup_exact")

    def exact():
        keepers = qp.groupBy("fp").agg(F.min("doc").alias("_keep"))
        return (
            qp.join(keepers.hint("merge"), "fp")
            .where(F.col("doc") == F.col("_keep"))
            .drop("_keep")
            .localCheckpoint(eager=True)
        )

    surv = _timed(vals, "dedup_exact", exact)
    b.group(f"{p}:count")
    vals["dedup_exact.dropped"] = qp.count() - surv.count()
    b.group(f"{p}:dedup_minhash")
    pairs = _timed(
        vals, "dedup_minhash",
        lambda: DD.minhash_near_duplicates(
            surv, "doc", "text", threshold=cfg.minhash_threshold, **minhash
        ).localCheckpoint(eager=True),
    )
    b.group(f"{p}:count")
    verified = pairs.count()
    cands = DD.minhash_near_duplicates(surv, "doc", "text", threshold=-1.0, **minhash).count()
    vals["dedup_minhash.candidates"] = cands
    vals["dedup_minhash.yield"] = verified / cands if cands else 0.0
    b.group(f"{p}:dedup_keepers")

    def keepers():
        cl = DD.dedup_keepers(
            pairs, "doc_a", "doc_b", quality=sig.select("doc", "quality"),
            quality_id="doc", quality_col="quality",
        )
        drops = cl.where(F.col("drop")).select("doc")
        return surv.join(drops.hint("merge"), "doc", "left_anti").localCheckpoint(eager=True)

    near = _timed(vals, "dedup_keepers", keepers)
    b.group(f"{p}:decon")
    bench_text = b.benchmark["corpus"].select(F.col("content").alias("text"))
    decon = CUR.decontaminate if cfg.decon_hashed else CUR.decontaminate_exact
    hits = _timed(
        vals, "decon",
        lambda: decon(near, bench_text, "doc", "text", n=cfg.decon_n).localCheckpoint(eager=True),
    )
    vals["decon.hits"] = hits.where(F.col("n_hits") > cfg.max_decon_hits).count()

    b.group(f"{p}:manifest")
    t = time.perf_counter()
    got2 = b.sink(b.full("corpus", base, "rerun")["triples"])
    vals["manifest"] = time.perf_counter() - t
    rerun = manifest_windows(b, base, "rerun")
    total = len(vals["windows"]["buckets"])
    vals["manifest.buckets_run"] = len(rerun["buckets"])
    vals["manifest.resume_skip_ratio"] = 1.0 - len(rerun["buckets"]) / total if total else 0.0

    exp = b.expected["corpus"]
    planted = (
        vals["dedup_exact.dropped"] == exp["planted_exact"]
        and verified == exp["planted_near"]
        and vals["decon.hits"] == exp["planted_contaminated"]
    )
    if not planted:
        print(
            f"planted counts differ: exact {vals['dedup_exact.dropped']}/{exp['planted_exact']}, "
            f"near {verified}/{exp['planted_near']}, decon {vals['decon.hits']}/{exp['planted_contaminated']}",
            file=sys.stderr,
        )
    return b.ok(got, "corpus") and b.ok(got2, "corpus") and planted


def manifest_windows(b: Bench, base: str, run_id: str) -> dict:
    """Per stage: [start, end] in epoch ms of the stage's run (from the
    manifest's ts and run wall) and its rows; plus every (stage, bucket)
    the run wrote."""
    F = b.F
    windows: dict = {}
    buckets: list = []
    for path in sorted(glob.glob(f"{base}/*/*/_manifest")):
        stage_dir = os.path.dirname(path)
        m = b.spark.read.parquet(path).where(F.col("run_id") == run_id)
        rows = m.collect()
        if not rows:
            continue
        stage = os.path.basename(stage_dir)
        end = max(r["ts"] for r in rows) / 1e6
        wall = max(r["run_wall_ms"] for r in rows)
        windows[stage] = {
            "start_ms": end - wall, "end_ms": end, "wall_s": wall / 1000.0,
            "rows_in": sum(r["rows_in"] for r in rows), "rows_out": sum(r["rows_out"] for r in rows),
        }
        buckets += [(stage, r["partition_id"]) for r in rows if r["rows_in"] or r["rows_out"]]
    return {"stages": windows, "buckets": buckets}


# ---------------------------------------------------------- attribution

_MANIFEST_LAYER = {"signals": "signals", "ingest": "ingest", "mentions": "mentions", "triples": "tail"}


def _stage_at(windows: dict, t_ms: float) -> str:
    """The checkpointed stage whose manifest was written first at or
    after ``t_ms`` (its input fingerprint, compute, write and manifest
    jobs all precede that write); "" after the last one."""
    later = [(w["end_ms"], stage) for stage, w in windows.items() if w["end_ms"] >= t_ms]
    return min(later)[1] if later else ""


def attribute(log: eventlog.Log, p: str, vals: dict) -> dict:
    """Per-layer metrics of traced pass ``p``.

    Stages belong to the layer of their job group, except: stages whose
    call site is in operators/scoring.py belong to scoring; a fused
    ``tail`` (the scale path's explosion+support+scoring, or the KG
    runner's triples stage) gives its shuffle-map stages that read no
    shuffle to pairs and the rest to support, splitting the tail's wall
    in proportion to stage walls; the cold curation/KG runner calls are
    split into layers by the checkpointed stage each Spark stage ran for
    (``_stage_at``; the fused curation ``keep`` and ``corpus`` stages
    are not attributed to a layer)."""
    by_layer: dict[str, list[eventlog.Stage]] = {layer: [] for layer in LAYERS}
    tail: list[eventlog.Stage] = []
    windows = (vals.get("windows") or {}).get("stages", {})
    for st in log.stages:
        group = st.group or ""
        if not group.startswith(p + ":"):
            continue
        layer = group.split(":", 1)[1]
        if "scoring.py" in st.name:
            layer = "scoring"
        elif layer == "cold":
            layer = _MANIFEST_LAYER.get(_stage_at(windows, st.submit_ms).split("_")[0])
        if layer == "tail":
            tail.append(st)
        elif layer in by_layer:
            by_layer[layer].append(st)
    walls = {layer: vals.get(layer, 0.0) for layer in LAYERS}
    for stage, w in windows.items():
        layer = _MANIFEST_LAYER.get(stage.split("_")[0])
        if layer and layer != "tail":
            walls[layer] = w["wall_s"]
    tail_wall = vals.get("tail", 0.0)
    for stage, w in windows.items():
        if stage.startswith("triples"):
            tail_wall = w["wall_s"]
    maps = [s for s in tail if s.shuffle_write > 0 and s.shuffle_read == 0]
    reduces = [s for s in tail if s not in maps]
    span = sum(s.wall_s for s in tail) or 1.0
    walls["pairs"] = tail_wall * sum(s.wall_s for s in maps) / span
    walls["support"] = tail_wall - walls["pairs"]
    by_layer["pairs"] += maps
    by_layer["support"] += reduces
    walls["scoring"] = vals.get("scoring.collect_s", 0.0) + vals.get("scoring_sink", 0.0)

    out: dict = {}
    for layer, stages in by_layer.items():
        if not stages and not walls[layer]:
            continue
        out[f"{layer}.wall_s"] = walls[layer]
        for key, v in eventlog.totals(stages).items():
            out[f"{layer}.{key}"] = v
    out["pairs.task_skew"] = max((s.skew for s in maps), default=0.0)
    out["mentions.py_bytes_sent"] = sum(s.py_sent for s in by_layer["mentions"])
    kernels = log.census.get(f"{p}:mentions", Counter())
    for ex in log.executions:
        if ex.group == f"{p}:cold" and _stage_at(windows, ex.start_ms).startswith("mentions"):
            kernels = kernels + ex.kernels
    out["mentions.arrow_kernels"] = kernels.get("MapInArrow", 0)
    out["mentions.pandas_kernels"] = kernels.get("MapInPandas", 0)
    out.update({k: v for k, v in vals.items() if "." in k})  # counts measured by the pass
    if vals.get("cold_s"):
        out["trace.total_s"] = vals["cold_s"]
    else:
        out["trace.total_s"] = vals.get("ingest", 0.0) + vals.get("mentions", 0.0) + vals.get("tail", 0.0)
    return out


# ----------------------------------------------------------------- main


def run(args) -> dict:
    root = os.getcwd()
    sys.path.insert(0, root)
    # the program under test; missing in a tree without it -> exit 1
    import bio_re_with_entity_embeddings_spark  # noqa: F401

    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]  # run the program's defaults, whatever the caller's shell sets
    wl = WORKLOADS[args.workload]
    if args.smoke:
        spec = replace(
            wl.spec, n_files=SMOKE_FILES,
            **({"exact_clones": 6, "near_clones": 6, "contaminated": 4, "low_quality": 2} if wl.curation else {}),
        )
        wl = replace(wl, spec=spec)
    work = os.path.join(root, ".kgbench_work")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    host = host_facts(root)
    t_imported = time.time()

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    b = Bench(args.workload, wl, args.seed, work, bool(args.trace))
    t_gen = b.t_setup - t_imported
    passes = Passes()
    warm = passes.run(b.warm_up)
    setup_s = time.time() - T_PROCESS - t_gen
    stat0, psi0, t0 = _cpu_times(), cpu_pressure(), time.time()
    if args.trace:
        metrics, detail = traced_run(b, args.seconds, passes, list(units))
    else:
        metrics, detail = timed_run(b, args.seconds, passes)
        metrics["setup_s"] = setup_s
        b.stop()
    host["cpu_shares"] = cpu_shares(stat0, _cpu_times())
    psi1 = cpu_pressure()
    if psi0 and psi1:
        # share of the timed region in which some runnable task waited for a CPU
        host["cpu_psi_some_share"] = (psi1["total"] - psi0["total"]) / 1e6 / (time.time() - t0)
    result = {
        "correct": passes.failed == 0 and warm is not None,
        "attempted": passes.attempted,
        "failed": passes.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    detail.update(
        workload=args.workload, seed=args.seed, trace=args.trace, host=host, generate_s=t_gen,
        setup_s=setup_s, setup_parts=b.setup_parts, failed_ratio=passes.failed / passes.attempted,
        expected={k: v for k, v in b.expected.items() if k != "dictionary"},
    )
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results", f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({"detail": detail, "result": result}, fh, indent=1)
    print(json.dumps({"detail": detail}, default=str))
    return result


def smoke() -> int:
    """Every workload at a tiny size, untraced and traced, each in its
    own process; exit 0 iff every run reports correct."""
    bad = 0
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--smoke"]
            res = subprocess.run(cmd, capture_output=True, text=True)
            lines = res.stdout.strip().splitlines()
            ok = res.returncode == 0 and bool(lines) and json.loads(lines[-1]).get("correct") is True
            print(f"{name} trace={trace}: {'ok' if ok else 'FAILED'}")
            if not ok:
                bad += 1
                print(res.stderr[-3000:], file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs; without --workload, run every workload")
    args = ap.parse_args()
    if args.smoke and not args.workload:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
