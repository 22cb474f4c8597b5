#!/usr/bin/env python3
"""adtlspark benchmark: one client, one JVM, closed loop.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
JVM half of the benchmark (perfbench/build.sbt) into .bench_build/; later
runs reuse that build while the sources are unchanged. The last line of
standard output is the JSON result; the exit code is nonzero when any
operation failed or its output was wrong.

Workloads (see README.md in this directory):
  linelist  `adtl parse` of one 40k-row generated line list and the golden fixtures
  dedup_cc  the eight connected-components gates, noop sink
`--fault wrong-count|missing-column` injects a fault to test the checks.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

LARGE_ROWS = 40_000
WARMUP_ROWS = 10_000
GOLDEN = os.path.join(ROOT, "src", "test", "resources", "golden")

# The golden fixtures the linelist workload parses, with the report totals and
# sink row counts the reference's snapshots fix (test_parser.ambr,
# test_one_to_many_parser.py, test_adtl_cli.ambr). Tables without a schema
# are absent from the report.
LONG_ONEOF_ERRORS = {
    "data must contain ['subjid', 'phase', 'attribute', 'value'] properties": 1,
    "data.value must be one of ['None', '1', '2-5', '6-9', '10-24', '25-49', "
    "'50-99', '100-250', '251-1000', '>1000']": 1,
}
FIXTURES = [
    ("stop-overwriting.toml", "stop-overwriting.csv", {"visit": "groupBy"},
     {"total": {}, "total_valid": {}, "validation_errors": {},
      "csv_rows": {"visit": 3}}),
    ("oneToMany.json", "oneToMany.csv", {"observation": "oneToMany"},
     {"total": {}, "total_valid": {}, "validation_errors": {},
      "csv_rows": {"observation": 2}}),
    ("long-oneof-parser.toml", "long-oneof.csv", {"long": "oneToMany"},
     {"total": {"long": 10}, "total_valid": {"long": 8},
      "validation_errors": {"long": LONG_ONEOF_ERRORS}, "csv_rows": {"long": 10}}),
    ("epoch.json", "epoch.csv", {"table": "oneToOne"},
     {"total": {"table": 2}, "total_valid": {"table": 2}, "validation_errors": {},
      "csv_rows": {"table": 2}}),
    ("skip_field.json", "skip_field_present.csv", {"table": "oneToOne"},
     {"total": {"table": 2}, "total_valid": {"table": 0},
      "validation_errors": {"table": {"data.epoch must be date": 2}},
      "csv_rows": {"table": 2}}),
]
LINELIST_KINDS = {"subject": "groupBy", "visit": "oneToOne", "observation": "oneToMany"}

GATES = ["d_dup_clusters", "q_hybrid_dedup", "q_drop_near_dups", "q_entity_resolution",
         "q_leakage_safe_split", "d_semdedup", "q_canonical_quality", "q_canonical_source"]
CORPUS_SEED = 42
GATE_TABLES = {"q_hybrid_dedup": ["documents", "embeddings"],
               "q_entity_resolution": ["part"], "d_semdedup": ["embeddings"]}

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]

DEADLINE = 170  # seconds a run may take once the build exists


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def _sources():
    """Files whose content decides whether the build is current."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def ensure_build():
    """Classpath of the compiled program and benchmark, building if stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("not at the root of an adtlspark checkout: build.sbt or src/main missing")
    h = hashlib.sha256()
    for f in _sources():
        h.update(f.encode())
        with open(f, "rb") as fp:
            h.update(fp.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (first run in this checkout)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=850)
    lines = [x for x in p.stdout.splitlines() if ".jar" in x and not x.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as fp:
        fp.write(lines[-1])
    with open(stamp_file, "w") as fp:
        fp.write(stamp)
    return lines[-1]


# ---- inputs and plan -----------------------------------------------------

def _line_list(inputs, name, rows, seed):
    import linelist
    path = os.path.join(inputs, f"{name}-{rows}-{seed}.csv")
    meta = os.path.join(inputs, f"{name}-{rows}-{seed}.expected.json")
    if not os.path.exists(meta):
        exp = linelist.generate(path, rows, seed)
        with open(meta, "w") as fp:
            json.dump(exp, fp)
    with open(meta) as fp:
        return path, json.load(fp)


def _kinds(kinds):
    return ",".join(f"{t}:{k}" for t, k in kinds.items())


def make_plan(workload, seed, work, fault, nproc):
    """Plan lines for the JVM and the expected outputs per timed input."""
    inputs = os.path.join(BUILD, "inputs", f"{workload}-{seed}")
    os.makedirs(inputs, exist_ok=True)
    spec = os.path.join(HERE, "spec", "linelist.json")
    epoch = (os.path.join(GOLDEN, "parsers", "epoch.json"),
             os.path.join(GOLDEN, "sources", "epoch.csv"))
    plan, expected = [], {}
    if fault == "missing-column":
        # the spec names a source column the data does not have
        with open(spec) as fp:
            broken = fp.read().replace('"field": "heart_rate"', '"field": "heart_rate_bpm"')
        spec = os.path.join(work, "linelist-missing-column.json")
        with open(spec, "w") as fp:
            fp.write(broken)
        for schema in ("visit.schema.json", "observation.schema.json"):
            shutil.copy(os.path.join(HERE, "spec", schema), work)

    if workload == "linelist":
        plan.append(["setup", *epoch])
        fixtures = []
        for parser, source, kinds, exp in FIXTURES:
            name = os.path.splitext(parser)[0]
            csv_path = os.path.join(GOLDEN, "sources", source)
            with open(csv_path) as fp:
                rows = sum(1 for _ in fp) - 1
            fixtures.append([name, os.path.join(GOLDEN, "parsers", parser), csv_path,
                             _kinds(kinds), rows])
            expected[name] = exp
        large, exp = _line_list(inputs, "large", LARGE_ROWS, seed)
        expected["large"] = exp
        # every spec is parsed once untimed, so its first-parse costs stay
        # out of the per-parse latency
        warm, _ = _line_list(inputs, "warmup", WARMUP_ROWS, seed + 1)
        plan.append(["warmup", spec, warm])
        plan += [["warmup", it[1], it[2]] for it in fixtures]
        # a cycle: the large list, then every fixture twice, so the median
        # parse falls inside one fixture's samples rather than between two
        plan.append(["parse", "large", spec, large, _kinds(LINELIST_KINDS), exp["rows"]])
        plan += [["parse", *it] for it in fixtures * 2]
        # the first large parse still runs colder than the next: always two
        plan.append(["cycles", 2])
    elif workload == "dedup_cc":
        import corpus
        # the same tables and gate order for every seed: how many
        # connected-components rounds a gate runs depends on the graph, and
        # which gate runs first pays the code paths the warm-up left cold
        data = os.path.join(BUILD, "inputs", "dedup_cc-tables-" +
                            "-".join(map(str, corpus.SIZES.values())))
        if not os.path.exists(os.path.join(data, "done")):
            corpus.generate(data, CORPUS_SEED)
            open(os.path.join(data, "done"), "w").close()
        # the session width graft.Bench and graft.Verify run the gates with
        plan.append(["conf", "spark.sql.shuffle.partitions", nproc])
        plan.append(["setup", "gates", data])
        plan.append(["warmup", "gate", "d_dup_clusters", data])
        for g in GATES:
            rows = sum(corpus.SIZES[t] for t in GATE_TABLES.get(g, ["documents"]))
            plan.append(["gate", g, data, rows])
        expected["tables"] = data
    else:
        die(f"unknown workload {workload}")
    if fault == "wrong-count":
        for exp in expected.values():
            if isinstance(exp, dict):
                t = next(iter(exp["csv_rows"]))
                exp["csv_rows"][t] += 1
                break
    return plan, expected


# ---- checks --------------------------------------------------------------

def check_parse(rec, exp):
    """Why a parse's report or sink output is wrong, or None."""
    if not os.path.exists(rec["report"]):
        return "no report written"
    with open(rec["report"]) as fp:
        report = json.load(fp)
    for key in ("total", "total_valid", "validation_errors"):
        if report.get(key) != exp[key]:
            return f"{key}: got {report.get(key)}, expected {exp[key]}"
    if rec["csv_rows"] != exp["csv_rows"]:
        return f"sink rows: got {rec['csv_rows']}, expected {exp['csv_rows']}"
    return None


def check_gates(records, tables, fault):
    """Gate name -> why its rows differ from the DuckDB oracle (or None).
    Oracle answers are kept next to the tables, keyed by the SQL text."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    import verify_local as vl
    with open(os.path.join(os.path.dirname(records[0]["dump"]), "oracle_sql.json")) as fp:
        oracles = json.load(fp)
    con = duckdb.connect()
    for t in ("documents", "embeddings", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, t + '.parquet')}')")
    verdict = {}
    for rec in records:
        name = rec["input"]
        if name in verdict or "dump" not in rec or not os.path.isdir(rec["dump"]):
            continue
        parts = sorted(f for f in os.listdir(rec["dump"]) if f.endswith(".parquet"))
        got = pd.concat([pd.read_parquet(os.path.join(rec["dump"], f)) for f in parts],
                        ignore_index=True)
        key = hashlib.sha256(oracles[name].encode()).hexdigest()[:16]
        cached = os.path.join(tables, f"oracle-{name}-{key}.pkl")
        if os.path.exists(cached):
            want = pd.read_pickle(cached)
        else:
            want = con.execute(oracles[name]).df()
            want.to_pickle(cached)
        if fault == "wrong-count" and not verdict:
            want = want.iloc[:-1]
        g, w = vl.normalize(got), vl.normalize(want)
        why = None
        if list(g.columns) != list(w.columns):
            why = f"columns {list(g.columns)} vs {list(w.columns)}"
        elif len(g) != len(w):
            why = f"rows {len(g)} vs {len(w)}"
        else:
            for c in g.columns:
                bad = [i for i in range(len(g)) if not vl.cells_equal(g[c].iloc[i], w[c].iloc[i])]
                if bad:
                    why = f"col {c}: {len(bad)} mismatches"
                    break
            why = why or vl.stringify_mismatch(g, w)
        verdict[name] = why
    return verdict


# ---- metrics -------------------------------------------------------------

def end_to_end(ok_recs, rows_of, setup, attempted, failed):
    """End-to-end figures; the timings only when some operation succeeded."""
    m = {"setup_s": statistics.median(setup), "ok_ratio": (attempted - failed) / attempted}
    secs = [r["seconds"] for r in ok_recs]
    if secs:
        by_input = {}
        for r in ok_recs:
            by_input.setdefault(r["input"], []).append(r["seconds"])
        m["op_p50_ms"] = statistics.median(secs) * 1000
        m["pass_s"] = sum(statistics.median(v) for v in by_input.values())
        m["rows_per_s"] = sum(rows_of[r["input"]] for r in ok_recs) / sum(secs)
    return m


def per_layer(records, additive):
    """Layer figures of the traced operations: means per parse for adtl,
    sums per pass for the gates."""
    traced = [r for r in records if r.get("traced") and "layers" in r]
    untraced = {r["index"]: r for r in records if not r.get("traced")}
    names = sorted({k for r in traced for k in r["layers"]})
    m = {}
    if additive:
        tot = {k: sum(r["layers"].get(k, 0.0) for r in traced) for k in names}
        m.update(tot)
        wall = tot.get("trace.wall_s", 0.0)
        m["ops.concurrency"] = tot.get("ops.task_s", 0.0) / wall if wall else 0.0
        rows = tot.get("ops.source_rows", 0.0)
        m["ops.scan_ratio"] = tot.get("ops.records_read", 0.0) / rows if rows else 0.0
    else:
        for k in names:
            m[k] = statistics.mean(r["layers"].get(k, 0.0) for r in traced)
    pairs = [(r, untraced[r["index"]]) for r in traced
             if r["index"] in untraced and "seconds" in untraced[r["index"]]]
    over = [t["layers"]["trace.wall_s"] - u["seconds"] for t, u in pairs]
    cover = [t["layers"]["trace.parts_s"] / u["seconds"] for t, u in pairs]
    if additive:
        base = sum(u["seconds"] for _, u in pairs)
        m["trace.overhead_s"] = sum(over)
        m["trace.coverage"] = sum(t["layers"]["trace.parts_s"] for t, _ in pairs) / base
    else:
        m["trace.overhead_s"] = statistics.median(over) if over else 0.0
        m["trace.coverage"] = statistics.median(cover) if cover else 0.0
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", choices=("wrong-count", "missing-column"))
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        declared = json.load(fp)
    if a.workload not in {w["name"] for w in declared["workloads"]}:
        die(f"unknown workload {a.workload}")
    cp = ensure_build()
    start = time.time()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "out"))
    nproc = len(os.sched_getaffinity(0))
    try:
        plan, expected = make_plan(a.workload, a.seed, work, a.fault, nproc)
        plan_file = os.path.join(work, "plan.tsv")
        with open(plan_file, "w") as fp:
            fp.writelines("\t".join(map(str, line)) + "\n" for line in plan)
        result = os.path.join(work, "result.json")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = ["java", *[x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Bench",
               "--work", work, "--plan", plan_file, "--out", result,
               "--seconds", str(a.seconds), "--trace", str(a.trace), "--nproc", str(nproc)]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        remaining = DEADLINE - (time.time() - start)
        with subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                              stdin=subprocess.DEVNULL) as p:
            try:
                code = p.wait(timeout=remaining)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                die("benchmark JVM did not finish in time")
        log(f"JVM finished {time.time() - start:.1f} s after start")
        if code != 0 or not os.path.exists(result):
            die(f"benchmark JVM exited with {code}")
        with open(result) as fp:
            out = json.load(fp)
        records = out["ops"]
        failed = set()
        for i, r in enumerate(records):
            if "error" in r or "seconds" not in r:
                log(f"{r['input']} failed: {r.get('error', 'no time')}")
                failed.add(i)
        if a.workload == "dedup_cc":
            verdict = check_gates(records, expected["tables"], a.fault)
            for i, r in enumerate(records):
                if verdict.get(r["input"]) or r["input"] not in verdict:
                    if i not in failed:
                        log(f"{r['input']}: output differs from the oracle: "
                            f"{verdict.get(r['input'], 'not checked')}")
                    failed.add(i)
            rows_of = {line[1]: line[3] for line in plan if line[0] == "gate"}
        else:
            for i, r in enumerate(records):
                if i in failed:
                    continue
                why = check_parse(r, expected[r["input"]])
                if why:
                    log(f"{r['input']}: {why}")
                    failed.add(i)
            rows_of = {line[1]: line[5] for line in plan if line[0] == "parse"}
        ok = [r for i, r in enumerate(records) if i not in failed and not r.get("traced")]
        attempted, n_failed = len(records), len(failed)
        if a.trace:
            m = per_layer(records, additive=a.workload == "dedup_cc")
            log("layers: " + json.dumps({k: round(v, 4) for k, v in sorted(m.items())}))
            metrics = {x["name"]: {"value": m.get(x["name"], 0.0), "unit": x["unit"]}
                       for x in declared["per_layer"]}
        else:
            m = end_to_end(ok, rows_of, out["setup_s"], attempted, n_failed)
            metrics = {x["name"]: {"value": m[x["name"]], "unit": x["unit"]}
                       for x in declared["end_to_end"] if x["name"] in m}
            log(f"samples: {len(ok)} operations, nproc {nproc}")
            by_input = {}
            for r in ok:
                by_input.setdefault(r["input"], []).append(round(r["seconds"], 3))
            log(f"seconds by input: {by_input}; setup {out['setup_s']}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": n_failed == 0, "attempted": attempted,
                      "failed": n_failed, "metrics": metrics}))
    sys.exit(1 if n_failed else 0)


if __name__ == "__main__":
    main()
