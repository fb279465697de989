#!/usr/bin/env python3
"""KG-build benchmark: one driver process, ``local[nproc]``.

    python3 perfbench/run.py --workload ckpt_resume --seed 1 --seconds 15 --trace 0

Generates the workload's corpus from ``--seed`` (staged once as parquet
under ``.perfbench/`` at the checkout root), builds a Spark session,
loads the model and lexicon, warms up with the workload's own kind of
build on at most a tenth of the corpus, then repeats the unit while the
next one is predicted to end within ``--seconds`` (at least once) and
checks every output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` is a separate run that calls each
pipeline layer in turn under its own Spark job group, materializes it,
and reports per-layer metrics from the Spark event log plus probes
around the checkpoint and stream layers. See ``perfbench/METRICS.md``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench")

# corpus: generator in gen.py; n_turns: exact input size; hot_turns: the
# one hot conversation; n_parts: staged files (one stream micro-batch each);
# resumes: resumes from each cold checkpointed build
WORKLOADS = {
    # long_turns and dense_mentions (the in-memory twin of ckpt_resume,
    # same corpus and size) run and are checked, but are not listed in
    # BENCHMARK.json: each run's fixed set-up leaves time for two workloads
    "long_turns": {"mode": "batch", "corpus": "long", "n_turns": 3000},
    "dense_mentions": {
        "mode": "batch", "corpus": "dense", "n_turns": 1000, "hot_turns": 50,
    },
    "ckpt_resume": {
        "mode": "ckpt", "corpus": "dense", "n_turns": 1000, "hot_turns": 50,
        "resumes": 3,
    },
    "stream_ingest": {
        "mode": "stream", "corpus": "fixture", "n_turns": 3300, "hot_turns": 150,
        "n_parts": 3,
    },
}
# the warm-up slice: whole conversations holding at most this share of the turns
WARM_SHARE = 0.1
# reference triples are computed single-process on a seeded subset of
# conversations: the reference pair loop is O(mentions^2) per conversation
SUBSET_CONVS = 24
SUBSET_MAX_TURNS = 60
TRIPLE_COLS = ["conv_id", "window_start", "subj", "pred", "obj"]
STAGES = ["mentions", "linked", "canonical", "triples"]
LAYERS = ["mentions", "linking", "canonicalize", "triples"]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_fingerprint() -> str:
    """Content hash of the engine package (code and model), keying the
    cached reference triples."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "reach_banner_spark")
    for path in sorted(
        glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(pkg, "resources", "*.npz"))
    ):
        h.update(os.path.relpath(path, pkg).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def sweep_dead_runs() -> None:
    for d in glob.glob(os.path.join(CACHE, "run-*")):
        pid = d.rsplit("-", 1)[1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------- corpus


def stage_corpus(name: str, seed: int, spec: dict):
    """Generate (or reuse) the staged corpus; returns (main_dir, warm_dir,
    turns as pandas)."""
    import pandas as pd

    import gen
    from reach_banner_spark.fixtures import make_lexicon

    size = (
        f"n{spec['n_turns']}h{spec.get('hot_turns', 0)}p{spec.get('n_parts', 1)}"
        f"w{WARM_SHARE:g}"
    )
    d = os.path.join(
        CACHE, "data", f"{spec['corpus']}-s{seed}-{size}-g{gen.GEN_VERSION}"
    )
    if not os.path.exists(os.path.join(d, "_DONE")):
        aliases = make_lexicon()["alias"].to_numpy()
        if spec["corpus"] == "long":
            turns = gen.long_turns(seed, spec["n_turns"], aliases)
        elif spec["corpus"] == "dense":
            turns = gen.dense_turns(seed, spec["n_turns"], spec["hot_turns"], aliases)
        else:
            turns = gen.fixture_turns(seed, spec["n_turns"], spec["hot_turns"], aliases)
        gen.stage(turns, d, spec.get("n_parts", 1), WARM_SHARE)
    main = os.path.join(d, "main")
    return main, os.path.join(d, "warm"), pd.read_parquet(main)


def pick_subset(turns, seed: int) -> list:
    import numpy as np

    sizes = turns.groupby("conv_id").size()
    small = sorted(sizes[sizes <= SUBSET_MAX_TURNS].index)
    rng = np.random.RandomState(seed + 7919)
    k = min(SUBSET_CONVS, len(small))
    return sorted(rng.choice(np.array(small, dtype=object), size=k, replace=False))


def reference_rows(workload: str, seed: int, spec: dict, turns, subset) -> set:
    """Single-process reference triples of the subset, cached per
    (workload, seed, size, engine source)."""
    key = (
        f"{workload}-s{seed}-n{spec['n_turns']}-k{SUBSET_CONVS}-{source_fingerprint()}"
    )
    path = os.path.join(CACHE, "ref", key + ".json")
    if not os.path.exists(path):
        from reach_banner_spark.fixtures import make_lexicon, reference_triples

        ref = reference_triples(turns[turns["conv_id"].isin(subset)], make_lexicon())
        rows = sorted(
            (r.conv_id, int(r.window_start), r.subj, r.pred, r.obj)
            for r in ref.itertuples(index=False)
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(rows, f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return {tuple(r) for r in json.load(f)}


# ---------------------------------------------------------------- spark


def start_spark(work: str, cores: int, event_dir: str | None):
    from reach_banner_spark.session import build_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
    }
    if event_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for the JVM and every
    process it forked (the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    from probes import process_tree

    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    gw.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.1)


def fingerprint(df) -> tuple[int, int]:
    """(row count, order-insensitive hash) of a triples frame."""
    from pyspark.sql import functions as F

    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*TRIPLE_COLS), F.lit(1 << 40))).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def subset_rows(df, subset) -> set:
    from pyspark.sql import functions as F

    rows = df.filter(F.col("conv_id").isin(subset)).select(*TRIPLE_COLS).collect()
    return {(r[0], int(r[1]), r[2], r[3], r[4]) for r in rows}


# ---------------------------------------------------------------- runs


class Run:
    """One benchmark process: the staged corpus, the session, and the
    outcome tally of every unit of work."""

    def __init__(self, args, spec: dict, work: str):
        self.args = args
        self.spec = spec
        self.work = work
        self.cores = nproc()
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[set, str]] = []  # (spark subset rows, label)

    def unit(self, label: str, fn):
        """Run one unit of work; a raise or a failed check counts as a
        failure and the run goes on."""
        self.attempted += 1
        try:
            ok, out = fn()
        except Exception:
            log(f"{label}: raised\n{traceback.format_exc()}")
            self.failed += 1
            return None
        if not ok:
            log(f"{label}: output check failed")
            self.failed += 1
        return out

    # -- builds (each returns (check ok, payload)) --

    def batch_build(self):
        from reach_banner_spark.plans.pipeline import run_pipeline

        t = time.perf_counter()
        out = run_pipeline(self.turns, self.lexicon, self.model_path)
        out.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t
        self.checks.append((subset_rows(out, self.subset), "batch build"))
        return True, (wall, out)

    def ckpt_cold(self, turns, root: str):
        """Cold checkpointed build into a fresh ``root``; the payload is
        (wall, output, output fingerprint)."""
        from reach_banner_spark.plans.checkpoint import run_pipeline_checkpointed

        shutil.rmtree(root, ignore_errors=True)
        t = time.perf_counter()
        cold, _ = run_pipeline_checkpointed(
            self.spark, turns, self.lexicon, self.model_path, root
        )
        cold_s = time.perf_counter() - t
        return True, (cold_s, cold, fingerprint(cold))

    def ckpt_resume(self, turns, root: str, cold_fp):
        """Delete the ``triples`` stage (a kill after ``canonical``) and
        resume; the output must equal the cold build's."""
        from reach_banner_spark.plans.checkpoint import run_pipeline_checkpointed

        shutil.rmtree(os.path.join(root, "triples"), ignore_errors=True)
        t = time.perf_counter()
        resumed, cp = run_pipeline_checkpointed(
            self.spark, turns, self.lexicon, self.model_path, root
        )
        resume_s = time.perf_counter() - t
        ok = (
            fingerprint(resumed) == cold_fp
            and cp.stages_resumed == STAGES[:3]
            and cp.stages_run == STAGES[3:]
        )
        return ok, (resume_s, cp)

    def ckpt_unit(self, walls: list, steps: list) -> None:
        """The ``ckpt_resume`` unit: a cold checkpointed build of the
        corpus, then ``resumes`` resumes from its stage tables, so each
        unit yields several resume samples."""
        root = os.path.join(self.work, "ckpt")
        r = self.unit(
            "cold checkpointed build", lambda: self.ckpt_cold(self.turns, root)
        )
        if not r:
            return
        walls.append(r[0])
        self.checks.append((subset_rows(r[1], self.subset), "cold build"))
        for _ in range(self.spec["resumes"]):
            s = self.unit("resume", lambda: self.ckpt_resume(self.turns, root, r[2]))
            if s:
                steps.append(s[0])

    def ckpt_cycle(self):
        """Cold checkpointed build of the corpus, then one resume."""
        root = os.path.join(self.work, "ckpt")
        _, (cold_s, cold, cold_fp) = self.ckpt_cold(self.turns, root)
        self.checks.append((subset_rows(cold, self.subset), "cold build"))
        ok, (resume_s, cp) = self.ckpt_resume(self.turns, root, cold_fp)
        return ok, (cold_s, resume_s, cp)

    def drain(self, staged: str):
        from reach_banner_spark.streaming.ops import stream_kg

        n0, k0 = self.listener.terminated, len(self.listener.batches)
        t = time.perf_counter()
        out = stream_kg(self.spark, None, staged_dir=staged)
        wall = time.perf_counter() - t
        if not self.listener.wait_terminated(n0 + 1):
            raise RuntimeError("stream listener never saw the query terminate")
        batches = self.listener.batches[k0:]
        return out, wall, batches

    def stream_drain(self):
        out, wall, batches = self.drain(self.main)
        self.checks.append((subset_rows(out, self.subset), "stream drain"))
        self.drained_fp.append(fingerprint(out))
        return len(batches) == self.spec["n_parts"], (wall, batches)

    # -- phases --

    def setup(self, event_dir: str | None) -> float:
        """Session, model, lexicon and one warm-up build on the warm
        slice; returns the excluded generation time."""
        from reach_banner_spark import schemas
        from reach_banner_spark.fixtures import ensure_model, make_lexicon

        t = time.perf_counter()
        self.main, self.warm, self.turns_pdf = stage_corpus(
            self.args.workload, self.args.seed, self.spec
        )
        self.subset = pick_subset(self.turns_pdf, self.args.seed)
        gen_s = time.perf_counter() - t

        t = time.perf_counter()
        self.spark = start_spark(self.work, self.cores, event_dir)
        log(f"session {time.perf_counter() - t:.2f}s")
        self.lexicon = self.spark.createDataFrame(make_lexicon(), schema=schemas.LEXICON)
        self.model_path = ensure_model()
        self.turns = self.spark.read.parquet(self.main)
        # the warm-up is the workload's own unit, so the measured units
        # find the stream and checkpoint code paths warm too
        t = time.perf_counter()
        mode = self.spec["mode"]
        if mode == "stream":
            from probes import BatchListener

            self.listener = BatchListener()
            self.spark.streams.addListener(self.listener)
            self.drained_fp: list = []
            self.drain(self.warm)
        elif mode == "ckpt":
            self.ckpt_cold(
                self.spark.read.parquet(self.warm), os.path.join(self.work, "ckpt-warm")
            )
        else:
            from reach_banner_spark.plans.pipeline import run_pipeline

            warm_turns = self.spark.read.parquet(self.warm)
            run_pipeline(warm_turns, self.lexicon, self.model_path).write.format(
                "noop"
            ).mode("overwrite").save()
        log(f"warm-up {time.perf_counter() - t:.2f}s")
        return gen_s

    def measure(self) -> dict:
        """Repeat the workload's unit for ``--seconds``; end-to-end
        metrics with their sample counts."""
        from probes import PssSampler
        from pyspark import SparkContext

        n = self.spec["n_turns"]
        mode = self.spec["mode"]
        sampler = PssSampler(SparkContext._gateway.proc.pid).start()
        t0 = time.perf_counter()
        walls, steps, units = [], [], []
        # start another unit only if it is predicted to end within
        # --seconds, so a run's length does not jump by a whole unit
        while not units or (
            time.perf_counter() - t0 + statistics.median(units) <= self.args.seconds
        ):
            t_unit = time.perf_counter()
            if mode == "batch":
                r = self.unit("build", self.batch_build)
                if r:
                    walls.append(r[0])
                    steps.append(r[0])
            elif mode == "ckpt":
                self.ckpt_unit(walls, steps)
            else:
                r = self.unit("drain", self.stream_drain)
                if r:
                    walls.append(r[0])
                    steps.extend(b[0] / 1000.0 for b in r[1])
            units.append(time.perf_counter() - t_unit)
            log(f"unit {len(units)}: {units[-1]:.2f}s, steps {[round(x, 2) for x in steps]}")
            if self.failed == self.attempted and self.attempted >= 3:
                break
        peak = sampler.stop()
        if mode == "stream":
            self.unit("stream == batch", self.stream_equals_batch)
        step_name = {"batch": "build_s", "ckpt": "resume_s", "stream": "batch_s"}[mode]
        log(f"step_p50_s is the median {step_name}")
        # a run whose every unit failed still reports each metric (as 0)
        return {
            "turns_per_s": (
                n / statistics.median(walls) if walls else 0.0, "turns/s", len(walls)
            ),
            "step_p50_s": (statistics.median(steps) if steps else 0.0, "s", len(steps)),
            "peak_pss_mb": (peak / 2**20, "MB", 1),
        }

    def stream_equals_batch(self):
        from reach_banner_spark.plans.pipeline import run_pipeline

        want = fingerprint(run_pipeline(self.turns, self.lexicon, self.model_path))
        return all(fp == want for fp in self.drained_fp), None

    def verify_reference(self) -> None:
        """Every collected subset of the engine's triples must equal the
        single-process reference triples."""
        if not self.checks:
            return
        ref = reference_rows(
            self.args.workload, self.args.seed, self.spec, self.turns_pdf, self.subset
        )
        for got, label in self.checks:
            if got != ref:
                log(f"{label}: {len(got)} subset triples != reference {len(ref)}")
                self.failed += 1
            self.attempted += 1


def traced(run: Run) -> dict:
    """The per-layer run: each layer's public function in pipeline order
    under its own job group, materialized with persist + count."""
    from pyspark.sql import functions as F

    from reach_banner_spark.fixtures import make_lexicon
    from reach_banner_spark.operators.linking import link_mentions
    from reach_banner_spark.operators.mentions import detect_mentions, paren_balanced
    from reach_banner_spark.operators.triples import assemble_triples
    from reach_banner_spark.plans.pipeline import (
        apply_canonical,
        canonical_rep_map,
        run_pipeline,
        salt_repartition,
    )

    spark, sc = run.spark, run.spark.sparkContext
    n = run.spec["n_turns"]
    m: dict = {}

    def storage_mb() -> float:
        return sum(i.memSize() for i in sc._jsc.sc().getRDDStorageInfo()) / 2**20

    def untraced() -> float:
        sc.setJobGroup("untraced", "run_pipeline twin")
        t = time.perf_counter()
        base = run_pipeline(run.turns, run.lexicon, run.model_path)
        base.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t
        untraced_fp.append(fingerprint(base))
        return wall

    # untraced builds on both sides of the traced one, so neither side
    # alone pays what is left of the warm-up
    untraced_fp: list = []
    untraced_s = untraced()

    builders = {
        "mentions": lambda prev: detect_mentions(
            salt_repartition(run.turns.select("conv_id", "turn_idx", "text")),
            run.model_path,
        ).filter(paren_balanced("surface")),
        "linking": lambda prev: link_mentions(prev, run.lexicon),
        "canonicalize": lambda prev: apply_canonical(
            prev, canonical_rep_map(spark, run.lexicon)
        ),
        "triples": lambda prev: assemble_triples(prev, run.turns, window_turns=2),
    }
    walls, rows, out, prev, storage = {}, {}, {}, None, 0.0
    for layer in LAYERS:
        sc.setJobGroup(layer, layer)
        t = time.perf_counter()
        df = builders[layer](prev).persist()
        rows[layer] = df.count()
        walls[layer] = time.perf_counter() - t
        storage = max(storage, storage_mb())
        if prev is not None and layer != "triples":
            prev.unpersist(blocking=True)
        out[layer] = prev = df
    traced_s = sum(walls.values())
    untraced_s = (untraced_s + untraced()) / 2
    base_fp = untraced_fp[0]
    run.attempted += 1
    if untraced_fp[1] != base_fp:
        log("untraced builds disagree")
        run.failed += 1
    for layer in LAYERS:
        m[f"{layer}.wall_s"] = (walls[layer], "s")

    sc.setJobGroup("stats", "layer counts")
    alias_keys = sorted({a.lower() for a in make_lexicon()["alias"]})
    canon = out["canonicalize"]
    key = F.lower(F.col("surface"))
    linked = canon.filter(F.col("entity_id").isNotNull()).count()
    m["mentions.rows_out"] = (rows["mentions"], "count")
    m["mentions.chars_per_s"] = (
        float(run.turns_pdf["text"].str.len().sum()) / walls["mentions"], "chars/s",
    )
    m["linking.distinct_surfaces"] = (
        canon.select(key.alias("k")).distinct().count(), "count",
    )
    m["linking.linked_ratio"] = (linked / max(rows["mentions"], 1), "ratio")
    m["linking.fuzzy_linked"] = (
        canon.filter(F.col("entity_id").isNotNull() & ~key.isin(alias_keys)).count(),
        "count",
    )
    m["triples.rows_out"] = (rows["triples"], "count")
    m["triples.per_linked_mention"] = (rows["triples"] / max(linked, 1), "ratio")
    m["caching.storage_mb"] = (storage, "MB")
    m["trace.turns_per_s"] = (n / traced_s, "turns/s")
    m["trace.overhead_ratio"] = (traced_s / untraced_s, "ratio")
    run.attempted += 1
    if fingerprint(out["triples"]) != base_fp:
        log("traced layers: triples differ from run_pipeline")
        run.failed += 1
    run.checks.append((subset_rows(out["triples"], run.subset), "traced layers"))
    for df in out.values():
        df.unpersist(blocking=True)

    sc.setJobGroup("other", "checkpoint and stream layers")
    zero = {
        "tables.write_s": "s", "tables.finalize_s": "s", "tables.bytes_written_mb": "MB",
        "tables.read_s": "s", "checkpoint.flush_wait_s": "s",
        "checkpoint.stages_resumed": "count", "stream.add_batch_s": "s",
        "stream.trigger_overhead_s": "s", "stream.source_rows_per_turn": "ratio",
    }
    for name, unit in zero.items():
        m[name] = (0.0, unit)
    if run.spec["mode"] == "ckpt":
        m.update(traced_checkpoint(run))
    elif run.spec["mode"] == "stream":
        r = run.unit("drain", run.stream_drain)
        if r:
            batches = r[1]
            add = [b[1].get("addBatch", 0) / 1000.0 for b in batches]
            over = [b[0] / 1000.0 - a for b, a in zip(batches, add)]
            m["stream.add_batch_s"] = (statistics.median(add), "s")
            m["stream.trigger_overhead_s"] = (statistics.median(over), "s")
            m["stream.source_rows_per_turn"] = (sum(b[2] for b in batches) / n, "ratio")
        run.attempted += 1
        if any(fp != base_fp for fp in run.drained_fp):
            log("traced drain: triples differ from run_pipeline")
            run.failed += 1
    return m


def traced_checkpoint(run: Run) -> dict:
    """Cold checkpointed build and resume, with the table writes, manifest
    finalization, flush wait and read-back timed by wrapping the public
    functions (the writes run on the checkpoint thread)."""
    from probes import timed_attr
    from reach_banner_spark.plans import checkpoint
    from reach_banner_spark.sources import tables

    root = os.path.join(run.work, "ckpt")
    with (
        timed_attr(tables, "write_graph_data") as w,
        timed_attr(tables, "finalize_graph_manifest") as fin,
        timed_attr(checkpoint.CheckpointedPipeline, "flush") as fl,
        timed_attr(tables, "read_graph_table", after=lambda df: df.count()) as rd,
    ):
        r = run.unit("checkpointed build + resume", run.ckpt_cycle)
    du = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    )
    return {
        "tables.write_s": (w.seconds, "s"),
        "tables.finalize_s": (fin.seconds, "s"),
        "tables.bytes_written_mb": (du / 2**20, "MB"),
        "tables.read_s": (rd.seconds, "s"),
        "checkpoint.flush_wait_s": (fl.seconds, "s"),
        "checkpoint.stages_resumed": (len(r[2].stages_resumed) if r else 0, "count"),
    }


def layer_metrics(event_dir: str, traced_m: dict, cores: int) -> dict:
    """Per-layer task metrics from the event log, against each layer's
    wall time from ``traced``."""
    from probes import event_log_groups, task_skew

    groups = event_log_groups(event_dir)
    m = {}
    for layer in LAYERS:
        g = groups.get(layer, {"exec_ms": 0, "shuffle_write": 0, "spill": 0, "stages": {}})
        wall = traced_m[f"{layer}.wall_s"][0]
        exec_s = g["exec_ms"] / 1000.0
        m[f"{layer}.exec_s"] = (exec_s, "s")
        m[f"{layer}.idle_slot_s"] = (wall * cores - exec_s, "s")
        m[f"{layer}.shuffle_write_mb"] = (g["shuffle_write"] / 2**20, "MB")
        m[f"{layer}.spill_mb"] = (g["spill"] / 2**20, "MB")
        m[f"{layer}.task_skew"] = (task_skew(g["stages"]), "ratio")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "reach_banner_spark", "__init__.py")):
        log(f"engine package reach_banner_spark not found under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.makedirs(CACHE, exist_ok=True)
    sweep_dead_runs()
    work = os.path.join(CACHE, f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # keep the launcher JVM's hsperfdata out of the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")

    import reach_banner_spark  # noqa: F401  (engine import counts as set-up)

    run = Run(args, WORKLOADS[args.workload], work)
    event_dir = os.path.join(work, "events") if args.trace else None
    try:
        gen_s = run.setup(event_dir)
        setup_s = time.perf_counter() - T0 - gen_s
        log(f"setup {setup_s:.2f}s (corpus staging {gen_s:.2f}s excluded)")
        if args.trace:
            metrics = traced(run)
        else:
            e2e = run.measure()
    finally:
        if hasattr(run, "spark"):
            stop_spark(run.spark)
    run.verify_reference()

    if args.trace:
        metrics.update(layer_metrics(event_dir, metrics, run.cores))
        samples = {k: 1 for k in metrics}
    else:
        e2e["setup_s"] = (setup_s, "s", 1)
        metrics = {k: (v, u) for k, (v, u, _) in e2e.items()}
        samples = {k: c for k, (_, _, c) in e2e.items()}
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit} (n={samples[name]})")
    rate = run.failed / max(run.attempted, 1)
    print(f"failure_rate = {rate:.6g} ratio (n={run.attempted})")
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed if run.attempted else 1,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
