#!/usr/bin/env python3
"""The engine's benchmark: one workload, one client, a closed loop.

    python3 perfbench/run.py --workload sensor_ts --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The script

1. builds the engine and the harness from source (build.py; cached in
   .bench_build/ by a hash of the sources);
2. generates the workload's input tables from --seed (gen.py);
3. computes a reference fingerprint of every item's rows with the DuckDB
   oracle (SparkEntry.oracleSql), outside the timed loop, canonicalised as
   tools/check.py does;
4. runs the harness JVM (local[nproc], one JVM): set-up three times, then a
   pass over the workload's items, and more while the next one is expected
   to end within --seconds;
5. checks every execution's rows against the reference and prints the
   metrics, one per line, then one JSON object as the last line.

--trace 0 prints the end-to-end metrics; --trace 1 runs three passes,
untraced, traced and untraced (the last only if it ends within the run's
deadline), and prints the per-layer metrics. An execution that throws
or whose rows differ from the reference counts as failed, is left out of
every timing, and makes the script exit with status 1. The run record
(timings, checks, plan signatures, spans) goes to
.bench_build/runs/<workload>-seed<seed>-trace<t>/record.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from build import BUILD, build, spark_jars  # noqa: E402

DEADLINE_S = 175
CHECK_RESERVE_S = 20  # of the deadline, kept for checking the outputs
SETUPS = 3
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Input sizes (sf 0.1 is Bench's scale). A run's 180 s limit, oracle, set-up
# and timed loop together, bounds them; see README.md, "Sizing".
WORKLOADS = {
    "sensor_ts": dict(sf=0.01),
    "neardup_docs": dict(sf=0.01, docs=300, embeddings=1000, boilerplate=0.4),
    "stream_ingest": dict(sf=0.01),
}

# --tiny: sf 0.001 inputs, for the self-test
TINY = {
    "sensor_ts": dict(sf=0.001),
    "neardup_docs": dict(sf=0.001, docs=60, embeddings=200, boilerplate=0.4),
    "stream_ingest": dict(sf=0.001),
}

ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def heap():
    """Half the machine's memory in GiB, clamped to [2, 8] (as the tier-1
    test command sizes its JVM)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{os.path.join(BUILD, 'duckdb_tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def fingerprint(con, sql):
    """Row count, column names and an md5 over the sorted canonical rows:
    columns sorted by lower-cased name, floats rounded to 4 decimals with
    -0.0 folded into 0.0, NULL as 'None' (tools/check.py's canon)."""
    rel = con.sql(sql)
    cols = [c.lower() for c in rel.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    exprs = []
    for i in order:
        c = '"' + rel.columns[i].replace('"', '""') + '"'
        if str(rel.types[i]).upper() in ("DOUBLE", "FLOAT"):
            c = f"CASE WHEN round({c}, 4) = 0 THEN 0.0::DOUBLE ELSE round({c}, 4) END"
        exprs.append(f"coalesce(CAST({c} AS VARCHAR), 'None')")
    row = " || chr(1) || ".join(exprs) if exprs else "''"
    n, digest = con.execute(
        f"SELECT count(*), md5(coalesce(string_agg(r, chr(10) ORDER BY r), '')) "
        f"FROM (SELECT {row} AS r FROM ({sql}))").fetchone()
    return {"rows": n, "cols": [cols[i] for i in order], "md5": digest}


def reference(workload, seed, data_dir, items, oracles):
    """Oracle fingerprints of the workload's items on this seed's inputs,
    cached by seed, input parameters and oracle text."""
    key = hashlib.sha256(json.dumps([WORKLOADS[workload], seed,
                                     [oracles[i] for i in items]]).encode()).hexdigest()[:16]
    path = os.path.join(BUILD, "refs", f"{workload}-seed{seed}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duck(data_dir)
    ref = {}
    for name in items:
        rel = con.sql(oracles[name])
        wide = [c for c, t in zip(rel.columns, rel.types)
                if str(t).upper() in ("HUGEINT", "UHUGEINT")]
        if wide:
            sys.exit(f"oracle of {name} returns HUGEINT columns {wide}")
        ref[name] = fingerprint(con, oracles[name])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(path + ".tmp", path)
    return ref


def generate(workload, seed):
    params = WORKLOADS[workload]
    key = hashlib.sha256(json.dumps([params, seed]).encode()).hexdigest()[:16]
    data_dir = os.path.join(BUILD, "data", f"{workload}-seed{seed}-{key}")
    if not os.path.exists(os.path.join(data_dir, "_done")):
        gen.write(data_dir, seed, **params)
        open(os.path.join(data_dir, "_done"), "w").close()
    return data_dir


def quantile(xs, q):
    """Quantile by linear interpolation between the nearest values."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def m(value, unit):
    return {"value": value, "unit": unit}


def unstolen(seconds, ticks):
    """`seconds` less the share the hypervisor stole from runnable CPUs
    meanwhile (/proc/stat `steal` over `steal` + busy ticks). On a shared
    virtual machine that share swings from 0 to over half within minutes;
    on dedicated hardware it is 0 and this returns `seconds`."""
    busy, steal = ticks
    return seconds * busy / (busy + steal) if busy + steal else seconds


def end_to_end(res):
    """Times are unstolen; failed executions are left out of every timing."""
    walls, samples = [], []
    for p in res["passes"]:
        ok = [unstolen(it["seconds"], it["ticks"]) for it in p["items"] if it["error"] is None]
        walls.append(sum(ok))
        samples += ok
    return {
        "setup_s": m(statistics.median(unstolen(s["total_s"], s["ticks"])
                                       for s in res["setups"]), "s"),
        "wall_s": m(statistics.median(walls), "s"),
        "query_p50_s": m(quantile(samples, 0.5), "s"),
        "query_p90_s": m(quantile(samples, 0.9), "s"),
        "peak_rss_mb": m(res["vmhwm_kb"] / 1024, "MB"),
    }


STREAM_PHASES = {"latest_offset_s": ["latestOffset"], "get_batch_s": ["getBatch"],
                 "planning_s": ["queryPlanning"], "add_batch_s": ["addBatch"],
                 "commit_s": ["walCommit", "commitOffsets"]}
DEDUP, SIMILARITY = ["q26_ngram_jaccard"], ["q91_lsh_neardup_pairs", "q102_lsh_neardup_auto"]


def layer_metrics(res, all_items):
    """Per-layer metrics of the traced pass. `query.<item>_s` is the item's
    time in the first (untraced) pass, as in a --trace 0 run, for the items
    of every workload (`all_items`); the tracing overhead compares the
    traced pass with the untraced pass after it, which is a little warmer,
    so the overhead reads slightly high. When that pass did not fit in the
    run's deadline (a busy host), the baseline is the first, cold pass, and
    the overhead reads low."""
    traced = [p for p in res["passes"] if p["traced"]]
    k = len(traced)
    its = [it for p in traced for it in p["items"] if "trace" in it]
    tr = [it["trace"] for it in its]

    def tot(key):
        return sum(t[key] for t in tr) / k

    def plan(key):
        return sum(t["plan"][key] for t in tr) / k

    def rows(names, key=None):
        sel = [it for it in its if it["name"] in names]
        if key:
            return sum(it["trace"]["plan"][key] for it in sel) / k
        return sum(it.get("rows") or 0 for it in sel) / k

    first = {it["name"]: unstolen(it["seconds"], it["ticks"])
             for it in res["passes"][0]["items"] if it["error"] is None}
    batches = [b for t in tr for b in t["batches"]]
    bsec = [b["duration_ms"].get("triggerExecution", 0) / 1000 for b in batches]
    replay_s = sum(it["seconds"] for it in its if it["trace"]["batches"]) / k
    stream_rows = sum(b["input_rows"] for b in batches) / k
    skew = [s for t in tr for s in t["stage_skew"]]
    skew_w = sum(b for b, _ in skew)
    decode = [it for it in its if it["name"] == "q76_ttn_envelope"]
    upsert = [it for it in its if it["name"] == "archive_upsert"]
    wall = statistics.mean(unstolen(p["wall_s"], p["ticks"]) for p in traced)
    base = overhead_baseline(res)
    cpus = res["cpus"]
    out = {
        "session.build_s": m(statistics.median(s["build_s"] for s in res["setups"]), "s"),
        "session.warmup_s": m(statistics.median(s["warmup_s"] for s in res["setups"]), "s"),
        "tables.scan_s": m(sum(s["seconds"] for s in res["scan"]), "s"),
        "tables.scan_bytes": m(sum(s["bytes"] for s in res["scan"]), "bytes"),
        "tables.scan_tasks": m(sum(s["tasks"] for s in res["scan"]), "count"),
        "plans.analysis_s": m(tot("analysis_ms") / 1e3, "s"),
        "plans.optimize_s": m(tot("optimize_ms") / 1e3, "s"),
        "plans.physical_s": m(tot("physical_ms") / 1e3, "s"),
    }
    for key in ("exchanges", "bhj", "smj", "bnlj", "cartesian", "objagg_sort_fallbacks"):
        out[f"plans.{key}"] = m(plan(key), "count")
    out.update({
        "tasks.n": m(tot("tasks"), "count"),
        "jobs.n": m(tot("jobs"), "count"),
        "stages.n": m(tot("stages"), "count"),
        "tasks.sched_delay_s": m(tot("sched_delay_ms") / 1e3, "s"),
        "tasks.busy_frac": m(tot("run_ms") / 1e3 / (wall * cpus), "ratio"),
        "tasks.run_s": m(tot("run_ms") / 1e3, "s"),
        "tasks.cpu_s": m(tot("cpu_ns") / 1e9, "s"),
        "tasks.gc_s": m(tot("gc_ms") / 1e3, "s"),
        "tasks.spill_bytes": m(tot("spill_bytes"), "bytes"),
        "tasks.peak_exec_mem_mb": m(max([t["peak_exec_mem"] for t in tr] or [0]) / 2**20, "MB"),
        "exchange.shuffle_write_bytes": m(tot("shuffle_write"), "bytes"),
        "exchange.shuffle_read_bytes": m(tot("shuffle_read"), "bytes"),
        "exchange.fetch_wait_s": m(tot("fetch_wait_ms") / 1e3, "s"),
        "exchange.skew": m(sum(b * r for b, r in skew) / skew_w if skew_w else 0.0, "ratio"),
    })
    gen_d, out_d = rows(DEDUP, "pairs_generated"), rows(DEDUP)
    gen_s, out_s = rows(SIMILARITY, "pairs_generated"), rows(SIMILARITY)
    out.update({
        "operators.dedup.pairs_generated": m(gen_d, "count"),
        "operators.dedup.pairs_survived": m(out_d, "count"),
        "operators.dedup.survive_ratio": m(out_d / gen_d if gen_d else 0.0, "ratio"),
        "operators.similarity.candidates": m(gen_s, "count"),
        "operators.similarity.verified": m(out_s, "count"),
        "operators.similarity.verify_ratio": m(out_s / gen_s if gen_s else 0.0, "ratio"),
        "ingest.decode_s": m(sum(it["seconds"] for it in decode) / k, "s"),
        "ingest.telegrams": m(res.get("telegrams", 0) if decode else 0, "count"),
        "ingest.rejected": m(res.get("telegrams", 0) - sum(it.get("rows") or 0 for it in decode) / k
                             if decode else 0, "count"),
        "streaming.batches": m(len(batches) / k, "count"),
    })
    for name, keys in STREAM_PHASES.items():
        out[f"streaming.{name}"] = m(sum(b["duration_ms"].get(x, 0) for b in batches
                                         for x in keys) / 1e3 / k, "s")
    out.update({
        "streaming.state_rows": m(sum(b["state_rows"] for b in batches) / k, "count"),
        "streaming.state_mem_mb": m(max([b["state_mem_bytes"] for b in batches] or [0]) / 2**20, "MB"),
        "streaming.state_commit_s": m(sum(b["state_commit_ms"] for b in batches) / 1e3 / k, "s"),
        "streaming.late_drops": m(sum(b["late_drops"] for b in batches) / k, "count"),
        "streaming.input_rows": m(stream_rows, "count"),
        "streaming.rows_per_s": m(stream_rows / replay_s if replay_s else 0.0, "1/s"),
        "streaming.batch_p50_s": m(quantile(bsec, 0.5) if bsec else 0.0, "s"),
        "streaming.batch_p90_s": m(quantile(bsec, 0.9) if bsec else 0.0, "s"),
        "archive.upsert_s": m(sum(it["seconds"] for it in upsert) / k, "s"),
        "archive.bytes_written": m(res.get("archive", {}).get("bytes", 0), "bytes"),
        "archive.files": m(res.get("archive", {}).get("files", 0), "count"),
    })
    for w, names in sorted(all_items.items()):
        for n in names:
            out[f"query.{n}_s"] = m(first.get(n, 0.0), "s")
    out["trace_overhead_frac"] = m(wall / unstolen(base["wall_s"], base["ticks"]) - 1, "ratio")
    return out


def overhead_baseline(res):
    """The untraced pass after the traced one, else the first pass."""
    p = res["passes"]
    return p[-1] if not p[-1]["traced"] else p[0]


def replay_split(res):
    """Per traced replay: its wall, the micro-batches' trigger time split
    into phases, and the rest (staging input, reading output back)."""
    out = []
    for p in res["passes"]:
        for it in p["items"]:
            bs = it.get("trace", {}).get("batches")
            if bs:
                phases = {}
                for b in bs:
                    for k, v in b["duration_ms"].items():
                        phases[k] = phases.get(k, 0) + v / 1e3
                trigger = phases.pop("triggerExecution", 0.0)
                out.append({"pass": p["pass"], "name": it["name"], "wall_s": it["seconds"],
                            "batches": len(bs), "trigger_s": trigger, "phases_s": phases,
                            "outside_batches_s": it["seconds"] - trigger})
    return out


def overcap_share(con):
    """Share of documents with at least one word trigram in more documents
    than q26's df cap (100)."""
    return con.execute("""
        WITH sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
                    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
                         range(1, 1000) r(i) WHERE i + 2 <= len(w)),
             over AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 100)
        SELECT count(DISTINCT doc_id) / (SELECT count(*) FROM documents)
        FROM sh JOIN over USING (s)""").fetchone()[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fail-item", help="make this item throw (self-test)")
    ap.add_argument("--corrupt-ref", help="alter this item's reference (self-test)")
    ap.add_argument("--tiny", action="store_true", help="sf 0.001 inputs (self-test)")
    args = ap.parse_args()
    if args.tiny:
        WORKLOADS.update(TINY)

    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"{need} not found: run from the root of an engine checkout")
    os.makedirs(BUILD, exist_ok=True)
    classes = build()
    t_start = time.monotonic()  # the deadline excludes a first run's build
    with open(os.path.join(BUILD, "oracles.json")) as f:
        dump = json.load(f)
    items, oracles = dump["workloads"][args.workload], dump["oracles"]

    t0 = time.monotonic()
    data_dir = generate(args.workload, args.seed)
    gen_s = time.monotonic() - t0
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))

    t0 = time.monotonic()
    ref = reference(args.workload, args.seed, data_dir, items, oracles)
    oracle_s = time.monotonic() - t0
    if args.corrupt_ref:
        ref[args.corrupt_ref] = dict(ref[args.corrupt_ref], md5="0" * 32)

    cpus = len(os.sched_getaffinity(0))
    budget = DEADLINE_S - CHECK_RESERVE_S - (time.monotonic() - t_start)
    cmd = (["java"] + ADD_OPENS +
           # Parallel GC over a fixed heap: its eden is one region reused by
           # every collection, so the resident peak repeats from run to run
           # (G1's region choice made it vary by a third)
           ["-XX:+UseParallelGC", f"-Xms{heap()}", f"-Xmx{heap()}",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{os.path.join(spark_jars(), '*')}",
            "graft.perfbench.Harness", f"workload={args.workload}",
            f"data={data_dir}", f"run={run_dir}", f"seconds={args.seconds}",
            f"budget={budget:.1f}",
            f"trace={args.trace}", f"setups={SETUPS}", f"cpus={cpus}"] +
           ([f"fail={args.fail_item}"] if args.fail_item else []))
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"))

    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                timeout=max(10, DEADLINE_S - (time.monotonic() - t_start))).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        sys.exit(f"harness failed ({rc}); log tail:\n{tail}")
    with open(result_path) as f:
        res = json.load(f)

    # check every execution against the reference
    con = duck(data_dir)
    attempted = failed = 0
    for p in res["passes"]:
        for it in p["items"]:
            if it["error"] is None:
                try:
                    got = fingerprint(con, f"SELECT * FROM read_parquet('{it['out']}/*.parquet')")
                except Exception as e:  # unreadable output is a failed execution
                    got = {"error": str(e)}
                want = ref[it["name"]]
                it["rows"] = got.get("rows")
                if got != want:
                    it["error"] = f"mismatch: got {got} want {want}"
            attempted += 1
            if it["error"]:
                failed += 1
                print(f"FAIL pass {p['pass']} {it['name']}: {it['error']}", file=sys.stderr)
            shutil.rmtree(it["out"], ignore_errors=True)

    metrics = layer_metrics(res, dump["workloads"]) if args.trace else end_to_end(res)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "inputs": dict(WORKLOADS[args.workload], dir=data_dir),
              "gen_s": gen_s, "oracle_s": oracle_s, "attempted": attempted,
              "failed": failed, "fail_frac": failed / attempted,
              "query_samples": attempted - failed,
              "overcap_doc_share": overcap_share(con) if args.workload == "neardup_docs" else None,
              "replay_split": replay_split(res) if args.trace else None,
              "overhead_baseline_pass": overhead_baseline(res)["pass"] if args.trace else None,
              "metrics": metrics, "harness": res,
              "total_s": time.monotonic() - t_start}
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    for name, v in metrics.items():
        print(f"{name} = {v['value']:.6g} {v['unit']}")
    print(f"fail_frac = {failed}/{attempted} executions")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
