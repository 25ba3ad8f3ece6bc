#!/usr/bin/env python3
"""graft benchmark: the CLI's ETL backfill, live tail-following with reads,
and a mix of registered queries.

    python3 perfbench/run.py --workload {etl_cli,etl_live,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. `--seconds` is accepted and recorded, but
does not set the run length: every workload does a fixed amount of work, so
runs are comparable whatever it is. The first run builds the program and the
benchmark's JVM harness from source with sbt (`perfbench/jvm`); later runs
reuse the build while the sources are unchanged. Inputs are generated from
the seed; the program sees only the generated files. Every run checks the
program's outputs, prints its metrics and host facts, and ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the run records Spark's
event log plus spans around the benchmark's calls into each layer, and the
metrics are the per-layer ones. The exit code is non-zero when a check
fails or the program cannot be built or run.

Workloads and metrics are described in perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import eventlog  # noqa: E402
import gen_blocks  # noqa: E402
import gen_tables  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = min(4, os.cpu_count() or 1)
JVM_TIMEOUT_S = 150
FIRST_SLOT = 1000

# etl_cli: a CLI invocation from a cold JVM into empty tables at the CLI's
# default batch size. etl_live: set-up pre-lands `setup_slots` slots in one
# batch, then the CLI follows the tip one slot per micro-batch. Each JVM
# makes one timed invocation of `span_slots` slots (query_mix: `passes` timed
# passes). Each workload runs in `jvms` fresh JVMs one after the other: whole
# runs came out up to 15 % faster or slower than others, and averaging two
# JVMs halved that spread.
WORKLOADS = {
    "etl_cli": {"kind": "etl", "jvms": 2, "setup_slots": 0, "span_slots": 30,
                "batch_size": 10},
    "etl_live": {"kind": "etl", "jvms": 1, "setup_slots": 40, "span_slots": 12,
                 "batch_size": 1},
    "query_mix": {"kind": "query", "jvms": 2, "passes": 2},
}
READ_REPS = 2  # per JVM

# One registered query from every family (q/t/d/e/g/c/m): g2 is
# iteration-bound, the rest are bounded by per-job and per-task overhead.
QUERIES = [
    "q8_topk_customers", "t14_vocab", "d1_dedup_exact", "e3_embedding_stats",
    "g2_pagerank_weighted", "c6_stratified_sample", "m1_binary_metadata",
]

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_p90_s": "s", "items_per_s": "1/s",
    "read_p50_s": "s", "read_p90_s": "s",
}
FAMILIES = "qtdegcm"
PER_LAYER = dict(
    [("cli.startup_s", "s"),
     ("streaming.trigger_ms", "ms"), ("streaming.planning_ms", "ms"),
     ("streaming.offsets_ms", "ms"), ("streaming.add_batch_ms", "ms"),
     ("etl.jobs_per_batch", "count"), ("etl.tasks_per_batch", "count"),
     ("etl.driver_gap_ms", "ms"), ("etl.parse_classify_ms", "ms"),
     ("etl.pre_merge_ms", "ms"), ("etl.merge_ms.blocks", "ms"),
     ("etl.merge_ms.transactions", "ms"), ("etl.bytes_written_per_batch", "B"),
     ("etl.write_amp", "ratio"), ("etl.shuffle_bytes_per_batch", "B"),
     ("etl.spill_bytes", "B"), ("layout.stored_bytes_per_tx", "B/tx"),
     ("read.files_scanned", "count"), ("read.bytes_scanned", "B"),
     ("read.rows_scanned_per_row_returned", "ratio"),
     ("query.jobs_per_query", "count"), ("query.tasks_per_query", "count"),
     ("query.shuffle_bytes", "B"), ("query.spill_bytes", "B"), ("query.cached_bytes", "B"),
     ("query.core_busy_share", "ratio")]
    + [("query.%s_s" % f, "s") for f in FAMILIES]
    + [("jvm.peak_rss_mb", "MB"), ("trace.op_p50_s", "s"), ("trace.read_p50_s", "s")])

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "jvm", "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "jvm", "build.sbt"),
             os.path.join(HERE, "jvm", "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the JVM harness; returns the run classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("no program sources under %s/src/main/scala/graft" % ROOT)
    stamp = source_hash()
    cp_file = os.path.join(BUILD, "classpath-%s.txt" % stamp)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile) ...")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "jvm"), env=env, stdout=subprocess.PIPE,
                           stderr=out, text=True, timeout=840)
        out.write(p.stdout)
    if p.returncode != 0:
        raise BenchError("sbt build failed (see %s/build.log)" % BUILD)
    cp = [line for line in p.stdout.splitlines() if "scala-2.13/classes" in line]
    if not cp:
        raise BenchError("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    log("built in %.1f s" % (time.time() - t0))
    return cp[-1].strip()


# ----------------------------------------------------------- JVM harness

def run_harness(cp, mode, plan, work, trace):
    """Start the JVM harness once; returns (its result, launch time in epoch ms)."""
    plan = dict(plan, result=os.path.join(work, "result.json"), cores=CORES)
    plan_path = os.path.join(work, "plan.properties")
    with open(plan_path, "w") as f:
        for k, v in plan.items():
            f.write("%s=%s\n" % (k, str(v).replace("\\", "\\\\")))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    props = ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.local.dir=" + tmp,
             "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
             "-Dderby.system.home=" + work]
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        props += ["-Dspark.eventLog.enabled=true", "-Dspark.eventLog.compress=false",
                  "-Dspark.eventLog.dir=file://" + ev,
                  "-Dspark.eventLog.logBlockUpdates.enabled=true"]
    cmd = (["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS] + props
           + ["-cp", cp, "perfbench.Harness", mode, plan_path])
    env = dict(os.environ, SPARK_MASTER="local[%d]" % CORES, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=tmp)
    launch_ms = time.time() * 1000.0
    with open(os.path.join(work, "harness.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError("JVM harness timed out after %d s" % JVM_TIMEOUT_S)
        finally:
            # Also reached when this process is interrupted or terminated.
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(work, "harness.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError("JVM harness exited with %d:\n%s" % (rc, tail))
    with open(plan["result"]) as f:
        return json.load(f), launch_ms


# ------------------------------------------------------------- statistics

def pct(values, q):
    """Percentile q (0-100) by linear interpolation between order statistics."""
    v = sorted(values)
    if not v:
        return 0.0  # only when every operation failed, which the run reports
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def dur_s(x):
    return (x["end_ms"] - x["start_ms"]) / 1000.0


# -------------------------------------------------------------------- ETL

def checkpoint_batches(tables, start_ms, end_ms, first_slot):
    """Micro-batches started between two instants, from the checkpoint: the
    mtimes of offsets/N (written when a batch starts) and commits/N (written
    when it commits), and the slot range (previous end, end] that offsets/N
    records. Costs nothing inside the program."""
    cp = os.path.join(tables, "_checkpoint")
    ends = {}
    for name in os.listdir(os.path.join(cp, "offsets")):
        if name.isdigit():
            with open(os.path.join(cp, "offsets", name)) as f:
                ends[int(name)] = int(f.read().split("\n")[2])
    out = []
    for n in sorted(ends):
        off = os.stat(os.path.join(cp, "offsets", str(n))).st_mtime_ns / 1e6
        if not start_ms <= off <= end_ms:
            continue
        commit = os.path.join(cp, "commits", str(n))
        out.append({"batch": n, "start_ms": off,
                    "end_ms": os.stat(commit).st_mtime_ns / 1e6 if os.path.exists(commit) else None,
                    "slots": range(ends.get(n - 1, first_slot - 1) + 1, ends[n] + 1)})
    return out


def etl_plan(cfg, rng, blocks, work, truth, first):
    """Harness plan for one JVM whose slots start at `first`; the reads are
    drawn from slots every run lands."""
    first_timed = first + cfg["setup_slots"]
    lo, hi = first if cfg["setup_slots"] else first_timed, first_timed + cfg["span_slots"] - 1
    sigs = [t[0] for t in truth["txs"] if lo <= t[1] <= hi]
    return {
        "blocks": blocks, "work": work, "first_slot": first,
        "setup_slots": cfg["setup_slots"], "span_slots": cfg["span_slots"],
        "batch_size": cfg["batch_size"],
        "read_signatures": ",".join(rng.choice(sigs) for _ in range(2 * READ_REPS)),
        "read_ranges": ",".join(str(rng.randint(lo, hi - 9)) for _ in range(2 * READ_REPS)),
    }


def table_bytes(tables):
    total = 0
    for t in ("blocks", "transactions"):
        for d, _, names in os.walk(os.path.join(tables, t)):
            total += sum(os.path.getsize(os.path.join(d, n)) for n in names
                         if n.endswith(".parquet"))
    return total


def run_etl(cp, cfg, seed, trace, work):
    width = cfg["setup_slots"] + cfg["span_slots"]
    blocks = os.path.join(work, "blocks")
    truth = gen_blocks.generate(seed, blocks, FIRST_SLOT, cfg["jvms"] * width)
    tx_per_slot = {}
    for t in truth["txs"]:
        tx_per_slot[t[1]] = tx_per_slot.get(t[1], 0) + 1
    landed_in = lambda b: sum(tx_per_slot.get(s, 0) for s in b["slots"])
    rng = random.Random(seed * 7919 + 1)
    attempted = failed = landed = 0
    problems, setup_s, batch_s, read_s, drain_s, runs = [], [], [], [], 0.0, []
    for j in range(cfg["jvms"]):
        jwork = os.path.join(work, "jvm%d" % j)
        os.makedirs(jwork)
        first = FIRST_SLOT + j * width
        plan = etl_plan(cfg, rng, blocks, jwork, truth, first)
        if trace and j == 0:
            # The replay re-runs the first two timed batches through
            # upsertBatch, into a copy of the table they land in.
            t0, step = first + cfg["setup_slots"], cfg["batch_size"]
            plan["replay_batches"] = ";".join(
                ",".join(os.path.join(blocks, "%d.json" % s)
                         for s in range(b, b + step) if s in truth["slots"])
                for b in range(t0, t0 + min(cfg["span_slots"], 2 * step), step))
        res, launch_ms = run_harness(cp, "etl", plan, jwork, trace)
        runs.append((res, launch_ms, jwork))

        # Every micro-batch of every invocation is one attempted operation;
        # a wrong landed table fails each batch that landed in it. An
        # invocation that left a batch uncommitted counts as one attempted
        # and failed operation.
        tables_slots, tables_batches, committed = {}, {}, {}
        for k, inv in enumerate(res["invocations"]):
            tables_slots.setdefault(inv["tables"], set()).update(
                range(inv["first"], inv["last"] + 1))
            bs = checkpoint_batches(inv["tables"], inv["start_ms"], inv["end_ms"], inv["first"])
            n = len(bs) if bs and all(b["end_ms"] is not None for b in bs) else 0
            if n:
                committed[k] = bs
            else:
                problems.append("invocation %d-%d left a micro-batch uncommitted"
                                % (inv["first"], inv["last"]))
            tables_batches[inv["tables"]] = tables_batches.get(inv["tables"], 0) + n
            attempted += max(1, n)
            failed += 0 if n else 1
        for tables, slots in sorted(tables_slots.items()):
            p = checks.check_landed(tables, truth, slots)
            if p:
                failed += tables_batches[tables]
                problems += ["%s: %s" % (os.path.basename(tables), x) for x in p]

        setup_end_ms = None
        for k, inv in enumerate(res["invocations"]):
            if inv["role"] != "timed" or k not in committed:
                continue
            bs = committed[k]
            if setup_end_ms is None:
                if cfg["setup_slots"]:
                    setup_end_ms = bs[0]["start_ms"]
                else:
                    # Without a set-up invocation the JVM's first micro-batch
                    # is its warm-up (code generation, JIT): it counts in
                    # setup_s, not as a timed batch.
                    setup_end_ms = bs[0]["end_ms"]
                    bs = bs[1:]
            # A batch over only skipped or malformed slots lands nothing; its
            # time counts in the drain, not as a batch latency.
            batch_s += [(b["end_ms"] - b["start_ms"]) / 1000.0 for b in bs if landed_in(b)]
            drain_s += (bs[-1]["end_ms"] - bs[0]["start_ms"]) / 1000.0
            landed += sum(landed_in(b) for b in bs)
        setup_s.append(((setup_end_ms or launch_ms) - launch_ms) / 1000.0)

        _, read_txs = checks.expected(truth, tables_slots[res["read_tables"]])
        for r in res["reads"]:
            p = checks.check_read(r, read_txs)
            failed += bool(p)
            problems += p
            read_s.append(dur_s(r))
    attempted += len(read_s)

    samples = {"jvms": cfg["jvms"], "batches": len(batch_s), "reads": len(read_s)}
    metrics = {
        "setup_s": statistics.median(setup_s),
        "op_p50_s": pct(batch_s, 50), "op_p90_s": pct(batch_s, 90),
        "items_per_s": landed / drain_s if drain_s else 0.0,
        "read_p50_s": pct(read_s, 50), "read_p90_s": pct(read_s, 90),
    }
    well_formed = sum(1 for s in truth["slots"].values() if s["well_formed"])
    extra = {"landed_tx": landed, "drain_s": drain_s, "setup_s": setup_s, "batch_s": batch_s,
             "read_s": read_s,
             "blocks_per_s": metrics["items_per_s"] * well_formed / max(1, len(truth["txs"]))}
    layers = etl_layers(runs, tx_per_slot, metrics) if trace else None
    return metrics, layers, attempted, failed, problems, samples, extra


def pre_merge_ms(spans):
    """Median time inside `upsertBatch` before its first merge call: the
    parent-bucket probe, whose collect also fills the batch's parse cache."""
    out = []
    for up in (s for s in spans if s["name"] == "etl.upsert_batch"):
        merges = [s["start_ms"] for s in spans
                  if s["parent"] == up["id"] and s["name"].startswith("etl.merge.")]
        if merges:
            out.append(min(merges) - up["start_ms"])
    return statistics.median(out) if out else 0.0


def etl_layers(runs, tx_per_slot, e2e):
    """Per-layer numbers of a traced ETL run from its JVMs' event logs,
    spans and landed tables."""
    batches, spans, reads, startup, stored, stored_tx, rss = [], [], [], [], 0, 0, []
    all_apps = []
    for res, launch_ms, jwork in runs:
        apps = eventlog.load(os.path.join(jwork, "eventlog"))
        all_apps += apps
        timed = []
        for b in eventlog.streaming_batches(apps):
            inv = [i for i in res["invocations"]
                   if i["role"] == "timed" and i["start_ms"] <= b["start_ms"] <= i["end_ms"]]
            if inv:
                # The first batch of a fresh checkpoint has no start offset.
                b["first_slot"] = int(b["start_offset"] or inv[0]["first"] - 1) + 1
                timed.append(b)
        # The same batches as the end-to-end metrics: without a set-up
        # invocation the JVM's first batch is its warm-up.
        setup = any(i["role"] == "setup" for i in res["invocations"])
        batches += sorted(timed, key=lambda b: b["start_ms"])[0 if setup else 1:]
        spans += res["spans"]
        reads += res["reads"]
        first = res["invocations"][0]
        bs = checkpoint_batches(first["tables"], first["start_ms"], first["end_ms"],
                                first["first"])
        startup.append((bs[0]["start_ms"] - launch_ms) / 1000.0)
        stored += table_bytes(res["read_tables"])
        stored_tx += sum(tx_per_slot.get(s, 0) for i in res["invocations"]
                         if i["tables"] == res["read_tables"]
                         for s in range(i["first"], i["last"] + 1))
        rss.append(res["vmhwm_kb"] / 1024.0)
    bytes_per_tx = stored / max(1, stored_tx)
    amps = []
    for b in batches:
        own = sum(tx_per_slot.get(s, 0)
                  for s in range(b["first_slot"], int(b["end_offset"]) + 1)) * bytes_per_tx
        if own:
            amps.append(b["bytes_written"] / own)
    # Every JVM runs reads with the same descriptions; one call over all
    # their apps sums them.
    groups = eventlog.job_groups(all_apps, "read:")
    med = lambda key: statistics.median(b[key] for b in batches) if batches else 0.0
    span_ms = lambda n: statistics.median(
        [s["end_ms"] - s["start_ms"] for s in spans if s["name"] == n] or [0.0])
    returned = sum(r["result"]["rows"] if r["kind"] == "range_scan" else
                   len(r["result"]) if r["kind"] in ("point_lookup", "type_histogram") else 1
                   for r in reads)
    per_read = lambda key: float(sum(g[key] for g in groups.values())) / max(1, len(reads))
    out = {k: 0.0 for k in PER_LAYER}
    out.update({
        "cli.startup_s": statistics.median(startup),
        "streaming.trigger_ms": med("trigger_ms"), "streaming.planning_ms": med("planning_ms"),
        "streaming.offsets_ms": med("offsets_ms"), "streaming.add_batch_ms": med("add_batch_ms"),
        "etl.jobs_per_batch": med("jobs"), "etl.tasks_per_batch": med("tasks"),
        "etl.driver_gap_ms": med("driver_gap_ms"),
        "etl.parse_classify_ms": span_ms("etl.parse_classify"),
        "etl.pre_merge_ms": pre_merge_ms(spans),
        "etl.merge_ms.blocks": span_ms("etl.merge.blocks"),
        "etl.merge_ms.transactions": span_ms("etl.merge.transactions"),
        "etl.bytes_written_per_batch": med("bytes_written"),
        "etl.write_amp": statistics.median(amps) if amps else 0.0,
        "etl.shuffle_bytes_per_batch": med("shuffle_bytes"),
        "etl.spill_bytes": float(sum(b["spill_bytes"] for b in batches)),
        "layout.stored_bytes_per_tx": bytes_per_tx,
        "read.files_scanned": per_read("files_read"),
        "read.bytes_scanned": per_read("in_bytes"),
        "read.rows_scanned_per_row_returned": per_read("in_records") * len(reads)
        / max(1, returned),
        "jvm.peak_rss_mb": max(rss),
        "trace.op_p50_s": e2e["op_p50_s"], "trace.read_p50_s": e2e["read_p50_s"],
    })
    return out


# ---------------------------------------------------------------- queries

def run_queries(cp, cfg, seed, trace, work):
    sf = os.path.join(work, "sf")
    gen_tables.generate(seed, sf)
    attempted = failed = 0
    problems, setup_s, runs, passes, jvm_runs = [], [], [], [], []
    for j in range(cfg["jvms"]):
        jwork = os.path.join(work, "jvm%d" % j)
        dump = os.path.join(jwork, "dump")
        os.makedirs(dump)
        plan = {"queries": ",".join(QUERIES), "sf_dir": sf, "dump_dir": dump,
                "passes": cfg["passes"]}
        res, launch_ms = run_harness(cp, "query", plan, jwork, trace)
        jvm_runs.append((res, jwork))
        with open(os.path.join(dump, "oracle_sql.json")) as f:
            oracles = json.load(f)
        wrong = checks.check_queries(sf, dump, QUERIES, oracles)
        wrong.update({f["query"]: [f["error"]] for f in res["failures"]})
        problems += ["%s: %s" % (q, "; ".join(p)) for q, p in sorted(wrong.items())]
        timed = [r for r in res["runs"] if r["query"]]
        attempted += len(timed)
        failed += sum(1 for r in timed if r["query"] in wrong or not r["ok"])
        setup_s.append((timed[0]["start_ms"] - launch_ms) / 1000.0)
        runs += timed
        passes += [r for r in res["runs"] if not r["query"]]
    query_s = [dur_s(r) for r in runs]
    pass_s = [dur_s(p) for p in passes]
    metrics = {
        "setup_s": statistics.median(setup_s),
        "op_p50_s": pct(pass_s, 50), "op_p90_s": pct(pass_s, 90),
        "items_per_s": len(runs) / sum(pass_s),
        "read_p50_s": pct(query_s, 50), "read_p90_s": pct(query_s, 90),
    }
    samples = {"jvms": cfg["jvms"], "passes": len(pass_s), "queries": len(query_s)}
    per_query = {}
    for r in runs:
        per_query.setdefault(r["query"], []).append(dur_s(r))
    extra = {"setup_s": setup_s, "per_query_s": per_query, "pass_s": pass_s}
    layers = query_layers(jvm_runs, per_query, query_s, len(passes), metrics) if trace else None
    return metrics, layers, attempted, failed, problems, samples, extra


def query_layers(jvm_runs, per_query, query_s, n_passes, e2e):
    """Per-layer numbers of a traced query_mix run from its JVMs' event logs."""
    groups, cached, rss = [], [], []
    for res, jwork in jvm_runs:
        apps = eventlog.load(os.path.join(jwork, "eventlog"))
        groups += [g for d, g in eventlog.job_groups(apps, "query:").items() if ":pass" in d]
        cached.append(eventlog.cached_peak(apps))
        rss.append(res["vmhwm_kb"] / 1024.0)
    total = lambda key: float(sum(g[key] for g in groups))
    out = {k: 0.0 for k in PER_LAYER}
    out.update({
        "query.jobs_per_query": total("jobs") / max(1, len(query_s)),
        "query.tasks_per_query": total("tasks") / max(1, len(query_s)),
        "query.shuffle_bytes": total("shuffle_bytes") / max(1, n_passes),
        "query.spill_bytes": total("spill_bytes") / max(1, n_passes),
        "query.cached_bytes": float(max(cached)),
        "query.core_busy_share": total("run_ms") / (1000.0 * sum(query_s) * CORES),
        "jvm.peak_rss_mb": max(rss),
        "trace.op_p50_s": e2e["op_p50_s"], "trace.read_p50_s": e2e["read_p50_s"],
    })
    for fam in FAMILIES:
        out["query.%s_s" % fam] = sum(statistics.median(v) for q, v in per_query.items()
                                      if q[0] == fam)
    return out


# ------------------------------------------------------------------ host

def host_facts():
    cpu = "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next((l.split(":", 1)[1].strip() for l in f if l.startswith("model name")),
                       platform.processor() or "unknown")
    except OSError:
        pass
    jvm = subprocess.run(["java", "-version"], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True).stdout.splitlines()
    commit = None
    try:
        git = lambda *a: subprocess.run(("git",) + a, cwd=ROOT, stdout=subprocess.PIPE,
                                        stderr=subprocess.DEVNULL, text=True).stdout.strip()
        # Only when the checkout itself is the repository's root.
        if os.path.realpath(git("rev-parse", "--show-toplevel") or "/") == os.path.realpath(ROOT):
            commit = git("rev-parse", "HEAD") or None
    except OSError:
        pass
    return {"nproc": os.cpu_count(), "cores_used": CORES, "cpu_model": cpu,
            "jvm": jvm[0] if jvm else "unknown", "commit": commit, "source_hash": source_hash(),
            "python": platform.python_version()}


def _terminate(signum, frame):
    raise KeyboardInterrupt


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()

    load_start = os.getloadavg()
    try:
        cp = build()
        work = os.path.join(BUILD, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        cfg = WORKLOADS[a.workload]
        runner = run_etl if cfg["kind"] == "etl" else run_queries
        try:
            metrics, layers, attempted, failed, problems, samples, extra = runner(
                cp, cfg, a.seed, bool(a.trace), work)
        finally:
            if not a.keep:
                shutil.rmtree(work, ignore_errors=True)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log("error: %s" % e)
        return 1

    host = dict(host_facts(), load_start=load_start, load_end=os.getloadavg())
    for p in problems:
        log("CHECK FAILED: %s" % p)
    shown = layers if a.trace else metrics
    units = PER_LAYER if a.trace else END_TO_END
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "samples": samples, "host": host, "e2e": metrics, "layers": layers,
              "extra": extra, "problems": problems}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", "%s-seed%d-trace%d.json"
                           % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(detail, f, indent=1)
    print("host %s" % json.dumps(host))
    print("samples %s" % json.dumps(samples))
    for k in units:
        print("%-36s %14.4f %s" % (k, shown[k], units[k]))
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": shown[k], "unit": units[k]} for k in units}}))
    return 0 if failed == 0 and not problems else 1


if __name__ == "__main__":
    sys.exit(main())
