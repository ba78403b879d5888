#!/usr/bin/env python3
"""spark-graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a spark-graft checkout. The runner

1. compiles src/main/scala and perfbench/src with the Scala compiler
   shipped in Spark's jars (cached by source hash under the build dir,
   $CARGO_TARGET_DIR or .bench_build);
2. generates the seeded inputs in a separate JVM (cached per seed);
3. computes the DuckDB expected results the checks compare against
   (cached per seed);
4. runs perfbench.Harness in a fresh JVM, which sets up the session,
   runs one warm-up pass and then timed passes for --seconds;
5. checks the harness's results and prints every metric with its unit,
   the correctness verdict, and as the last line one JSON object:
   {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

WORKLOADS = ("wordcount_zipf", "registry_mix")
# inputs: raw corpus bytes, and table sizes as a share of sf0.1
CORPUS_BYTES = 24 << 20
TABLE_SCALE = 0.1
# a run ends within this many seconds after the build, which has its own
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 600
DEADLINE_S = RUN_DEADLINE_S
KEEP_SEEDS = 6

END_TO_END = {"setup_s": "s", "pass_wall_s": "s", "op_p50_s": "s",
              "task_cpu_s": "s", "peak_rss_mb": "MB"}

BENCH = os.path.dirname(os.path.abspath(__file__))
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

T_START = time.monotonic()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def remaining():
    return DEADLINE_S - (time.monotonic() - T_START)


def restart_clock(seconds):
    global T_START, DEADLINE_S
    T_START, DEADLINE_S = time.monotonic(), seconds


def host():
    """Cores and heap (GiB) sized like the tier-1 test command: every
    core, half of MemTotal clamped to 2..8 GiB."""
    cores = len(os.sched_getaffinity(0))
    gib = 4
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return cores, gib


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt names
    as its unmanagedBase (the jars sbt compiles and tests against)."""
    if os.environ.get("SPARK_HOME"):
        base = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            fail("no SPARK_HOME and no unmanagedBase in build.sbt")
        base = m.group(1)
    jars = sorted(glob.glob(os.path.join(base, "*.jar")))
    if not jars:
        fail(f"no Spark jars under {base}")
    return jars


CHILD = None


def stop_child(*_):
    """Kills the running child's process group and waits for it."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()


def on_signal(signum, _):
    stop_child()
    sys.exit(128 + signum)


def run_checked(cmd, what, env=None, log_path=None):
    """Runs cmd in its own process group within the run's deadline and
    waits for it; kills the whole group when the deadline passes or the
    runner is told to stop."""
    global CHILD
    out = open(log_path, "w") if log_path else subprocess.DEVNULL
    CHILD = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
    try:
        rc = CHILD.wait(timeout=max(1.0, remaining()))
    except subprocess.TimeoutExpired:
        stop_child()
        fail(f"{what} passed the {DEADLINE_S}s deadline")
    finally:
        if log_path:
            out.close()
    if rc != 0:
        if log_path:
            with open(log_path, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{what} exited with {rc}")


def build(build_dir, cores, heap):
    """Compiles the engine and the harness into one jar, then runs
    perfbench.Prime once to dump the classes every benchmark JVM loads
    into a class-data-sharing archive. Opening Spark's few hundred jars
    class by class dominates JVM start-up on a slow file system; the
    archive maps them in one file. Returns (jar, archive, source hash)."""
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    srcs += sorted(glob.glob(os.path.join(BENCH, "src", "*.scala")))
    h = hashlib.sha256()
    # the runner's JVM flags are part of what the archive was dumped with
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    jar = os.path.abspath(os.path.join(build_dir, "perfbench.jar"))
    jsa = os.path.abspath(os.path.join(build_dir, "perfbench.jsa"))
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar, jsa, stamp
    for f in (stamp_file, jar, jsa):
        if os.path.exists(f):
            os.remove(f)
    log(f"compiling {len(srcs)} sources")
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    run_checked(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
                 "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                 "-classpath", os.pathsep.join(jars)] + srcs,
                "compile", log_path=os.path.join(build_dir, "compile.log"))
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for root, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(root, f)
                z.write(p, os.path.relpath(p, classes))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(classes)
    log("priming the class-data-sharing archive")
    work = new_work(build_dir, "prime")
    try:
        run_checked(java_cmd(jar, None, cores, heap, work, "perfbench.Prime",
                             [os.path.join(work, "prime")],
                             [f"-XX:ArchiveClassesAtExit={jsa}.tmp"]),
                    "priming", env=java_env(work),
                    log_path=os.path.join(build_dir, "prime.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.rename(jsa + ".tmp", jsa)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar, jsa, stamp


def java_cmd(jar, jsa, cores, heap, work, main, args, extra=()):
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    share = [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] \
        if jsa else ["-Xlog:cds=off"]
    # a fixed heap and young generation: G1's adaptive sizing otherwise
    # makes the peak resident set follow the host's load, not the program
    return (["java", "-XX:-UsePerfData"] + opens + share + list(extra) + [
        f"-Xms{heap}g", f"-Xmx{heap}g", f"-Xmn{heap * 256}m",
        "-XX:ReservedCodeCacheSize=1g",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dperfbench.cores={cores}",
        f"-Dperfbench.work={work}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([jar] + spark_jars()), main] + list(args))


def java_env(work):
    env = dict(os.environ)
    env["GRAFT_STREAM_WORK_DIR"] = os.path.join(work, "stream")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.pop("SPARK_GRAFT_CPUS", None)
    return env


def new_work(build_dir, tag):
    work = os.path.abspath(os.path.join(build_dir, "work", f"{tag}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "stream", "spark-local"):
        os.makedirs(os.path.join(work, d))
    return work


def inputs(build_dir, jar, jsa, stamp, cores, heap, workload, seed):
    """Seeded inputs for the workload, generated once per seed and build
    (the generator is part of the build)."""
    kind, size = (("corpus", CORPUS_BYTES) if workload == "wordcount_zipf"
                  else ("tables", TABLE_SCALE))
    root = os.path.join(build_dir, "data")
    out = os.path.abspath(os.path.join(root, f"{kind}-{size}-{stamp[:12]}-seed{seed}"))
    if os.path.exists(os.path.join(out, ".done")):
        return out
    # keep the cache small: drop the oldest seeds of this kind
    old = sorted(glob.glob(os.path.join(root, f"{kind}-*")), key=os.path.getmtime)
    for d in old[:max(0, len(old) - KEEP_SEEDS + 1)]:
        shutil.rmtree(d, ignore_errors=True)
    log(f"generating {kind} for seed {seed}")
    work = new_work(build_dir, "gen")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        run_checked(java_cmd(jar, jsa, cores, heap, work, "perfbench.Gen",
                             [kind, tmp, str(seed), str(size)]),
                    "input generation", env=java_env(work),
                    log_path=os.path.join(work, "gen.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


# ---- DuckDB expected results ------------------------------------------

def duck():
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit='2GB'")
    return con


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def wordcount_expected(data):
    """Word count of the corpus: decode as the reference does (UTF-8,
    errors="ignore"), then tokenize, count and rank in DuckDB."""
    path = os.path.join(data, "expected.json")
    if os.path.exists(path):
        return path
    with zipfile.ZipFile(os.path.join(data, "corpus.zip")) as z:
        raw = z.read(z.namelist()[0])
    text_path = os.path.join(data, "corpus.txt")
    with open(text_path, "w", encoding="utf-8") as f:
        f.write(raw.decode("utf-8", errors="ignore"))
    con = duck()
    con.execute(f"""
        CREATE TABLE counts AS
        WITH lines AS (
          SELECT line FROM read_csv('{text_path}', columns={{'line': 'VARCHAR'}},
            delim=chr(1), quote='', escape='', header=false, auto_detect=false)),
        toks AS (
          SELECT unnest(regexp_extract_all(lower(line), '[a-z'']+')) AS word
          FROM lines)
        SELECT word, count(*) AS cnt FROM toks GROUP BY word""")
    tokens, distinct = con.execute(
        "SELECT sum(cnt)::BIGINT, count(*) FROM counts").fetchone()
    top20 = con.execute("""SELECT word, cnt FROM counts
        ORDER BY cnt DESC, length(word) DESC, word ASC LIMIT 20""").fetchall()
    con.close()
    os.remove(text_path)
    with open(path + ".tmp", "w") as f:
        json.dump({"bytes": len(raw), "tokens": tokens, "distinct": distinct,
                   "top20": [[w, c] for w, c in top20]}, f)
    os.rename(path + ".tmp", path)
    return path


def norm(v):
    """scripts/check.py's type-tagged value, so that int 6000 and float
    6000.0 differ, as they do in that script's compare."""
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN")
        return ("float", v + 0.0)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, list):
        return ("list", tuple(norm(x) for x in v))
    return (type(v).__name__, v)


def canonical(df):
    """(sorted column names, sorted row reprs) of a pandas frame."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(repr(tuple(norm(v) for v in r)) for r in df.itertuples(index=False))
    return list(df.columns), rows


def registry_failures(report, data):
    """Queries whose warm-up result differs from DuckDB's (or, with no
    oracle SQL, returned no rows)."""
    bad = set(report["warm_failed"])
    cache_dir = os.path.join(data, "expected")
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    for name in report["ops_per_query"]:
        if name in bad:
            continue
        dump = report["dumped"].get(name)
        sql = report["oracle_sql"].get(name)
        if dump is None:
            bad.add(name)
            continue
        if sql is None:
            if report["rows"].get(name, 0) == 0:
                log(f"FAIL {name}: no rows (rows-only check)")
                bad.add(name)
            continue
        if con is None:
            con = duck()
            for t in TABLES:
                if os.path.isdir(f"{data}/{t}.parquet"):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{data}/{t}.parquet/*.parquet'")
        key = hashlib.sha1(sql.encode()).hexdigest()[:16]
        cached = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(cached):
            with open(cached) as f:
                exp = json.load(f)
        else:
            cols, rows = canonical(con.execute(sql).df())
            exp = {"columns": cols, "rows": rows}
            with open(cached, "w") as f:
                json.dump(exp, f)
        cols, rows = canonical(con.execute(f"SELECT * FROM '{dump}/*.parquet'").df())
        if cols != exp["columns"] or rows != exp["rows"]:
            g, e = next(((g, e) for g, e in zip(rows, exp["rows"]) if g != e),
                        (None, None))
            log(f"FAIL {name}: {len(rows)} vs {len(exp['rows'])} rows; "
                f"first difference spark={g} duckdb={e}")
            bad.add(name)
    if con is not None:
        con.close()
    return bad


# ---- main ---------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if not os.path.isdir("src/main/scala/graft"):
        fail("no engine sources under src/main/scala/graft: "
             "run from the root of a spark-graft checkout")
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    os.makedirs(build_dir, exist_ok=True)
    cores, heap = host()
    restart_clock(BUILD_DEADLINE_S)
    jar, jsa, stamp = build(build_dir, cores, heap)
    restart_clock(RUN_DEADLINE_S)
    data = inputs(build_dir, jar, jsa, stamp, cores, heap, a.workload, a.seed)
    expected = wordcount_expected(data) if a.workload == "wordcount_zipf" else "-"
    t_inputs = time.monotonic()

    work = new_work(build_dir, a.workload)
    report_path = os.path.join(work, "report.json")
    try:
        t0_ms = int(time.time() * 1000)
        run_checked(java_cmd(jar, jsa, cores, heap, work, "perfbench.Harness",
                             [a.workload, data, expected, report_path,
                              str(a.seconds), str(a.trace), str(t0_ms)]),
                    "harness", env=java_env(work),
                    log_path=os.path.join(work, "harness.log"))
        with open(report_path) as f:
            report = json.load(f)
        t_harness = time.monotonic()
        if a.workload == "wordcount_zipf":
            bad = set(report["warm_failed"])
        else:
            bad = registry_failures(report, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"inputs {t_inputs - T_START:.1f}s, harness {t_harness - t_inputs:.1f}s, "
        f"check {time.monotonic() - t_harness:.1f}s")
    log("pass walls (s): " + ", ".join(
        f"{p['wall_s']:.3f}" + ("t" if p["traced"] else "") for p in report["passes"]))

    ops = report["ops_per_query"]
    failed = sum(ops[q] if q in bad else report["failed_per_query"][q] for q in ops)
    attempted = report["attempted"]
    correct = failed == 0 and not bad
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in report["per_layer"].items()}
    else:
        metrics = {k: {"value": report["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}

    print(f"workload {a.workload}  seed {a.seed}  cores {report['cores']}  "
          f"passes {len(report['passes'])}  op samples {report['op_samples']}")
    for k, m in metrics.items():
        print(f"  {k:28s} {m['value']:.6g} {m['unit']}")
    slow = sorted(report["op_median_s"].items(), key=lambda kv: -kv[1])[:5]
    print("  slowest operations (median s): " +
          ", ".join(f"{k} {v:.3f}" for k, v in slow))
    if report["op_p90_s"] >= 0:
        print(f"  {'op_p90_s':28s} {report['op_p90_s']:.6g} s")
    print(f"  {'op_error_rate':28s} {failed / max(1, attempted):.6g} "
          f"({failed} of {attempted} operations)")
    print(f"correct: {correct}" + (f"  failing: {', '.join(sorted(bad))}" if bad else ""))
    cal = report["calibration_s"]
    print(f"  {'pass wall, raw':28s} {report['pass_raw_wall_s']:.6g} s")
    print(f"window: loadavg max {report['loadavg_max']:.2f}, "
          f"steal {report['steal_share'] * 100:.1f}%, calibration "
          f"{cal['start']:.3f}s -> {cal['end']:.3f}s, " +
          ("CONTAMINATED: " + "; ".join(report["contamination"])
           if report["contaminated"] else "clean"))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_over_run", "_share")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
