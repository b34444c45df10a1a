#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, in one JVM.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--cores C]

Builds the engine and the harness from source with sbt when they changed
(the build output lives under .bench_build/), runs ``perfbench.Main`` at
``local[C]`` (default: min(3, nproc - 1)), checks every operation's output and
prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
metrics named in BENCHMARK.json -- the end-to-end ones with ``--trace 0``,
the per-layer ones with ``--trace 1``. Exits 1 when an output check fails,
2 when the sources or the data set are missing.

The sf tables are read from $SPARK_GRAFT_SF_DIR, default ~/testdata/sf0.1.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build" / "perfbench"
HEAP = "3g"
YOUNG = "1g"
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 700

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt"))
    files += sorted((ROOT / "project").glob("*.properties"))
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = Path.home() / ".sbt" / "repositories"
    if "sbt.repository.config" not in opts and repos.is_file():
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    env.setdefault("COURSIER_MODE", "offline")
    return env


def classpath():
    """The harness's runtime classpath, building first if any source changed."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    want = stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log("building engine and harness (sbt)")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=BUILD_LIMIT_S)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        log(f"build failed, see {BUILD / 'build.log'}")
        sys.exit(2)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(want)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


def run_jvm(cp, args, work, out_file, limit_s):
    out_file.unlink(missing_ok=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    # a fixed heap with a fixed young generation, not pre-touched: the
    # resident set then holds the young generation once and grows with
    # what the program keeps alive in the old generation (collected
    # results, cached blocks, humongous arrays) and off the heap, not with
    # when G1 resizes the heap or its young generation
    cmd = [str(java), f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(args.cores),
            "--data", str(args.data), "--work", str(work), "--out", str(out_file)]
    log_file = BUILD / "logs" / f"{args.workload}-{args.seed}-t{args.trace}.log"
    log_file.parent.mkdir(parents=True, exist_ok=True)
    with open(log_file, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"JVM exceeded {limit_s:.0f} s, see {log_file}")
            sys.exit(1)
    if code != 0 or not out_file.is_file():
        log(f"JVM exited with {code}, see {log_file}")
        sys.exit(1)
    return json.loads(out_file.read_text())


def oracle_failures(oracle, data_dir):
    """Names of the sql_mix queries whose Spark result differs from the
    DuckDB oracle's, compared row by row in the queries' total order."""
    import duckdb
    con = duckdb.connect()
    for p in sorted(Path(data_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    bad = {}
    for q in oracle:
        files = sorted(str(f) for f in Path(q["parquet"]).glob("*.parquet"))
        try:
            spark_df = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            duck_df = con.execute(q["sql"]).fetchdf()
            why = frame_mismatch(spark_df, duck_df)
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error: {e}"
        if why:
            bad[q["name"]] = why
    return bad


def frame_mismatch(a, b):
    """Why two result frames differ (columns compared by name), or None."""
    import pandas as pd
    a = a.reindex(sorted(a.columns), axis=1).reset_index(drop=True)
    b = b.reindex(sorted(b.columns), axis=1).reset_index(drop=True)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        x, y = a[c].astype(object), b[c].astype(object)
        eq = (x.where(pd.notnull(x), None) == y.where(pd.notnull(y), None)) | \
             (pd.isnull(x) & pd.isnull(y))
        if not eq.all():
            i = (~eq).idxmax()
            return f"column {c} row {i}: {x[i]!r} != {y[i]!r}"
    return None


def score(raw, spec, args):
    """(correct, attempted, failed, metrics) from the JVM's raw result."""
    expected = json.loads((BENCH / "expected.json").read_text()).get(args.workload)
    wrong_queries = {}
    if "oracle" in raw:
        wrong_queries = oracle_failures(raw["oracle"], args.data)
        for q, why in wrong_queries.items():
            log(f"oracle mismatch {q}: {why}")
    attempted = failed = 0
    for op in raw["ops"]:
        for c in op["checks"]:
            attempted += 1
            err = c["error"]
            if err is None and c["name"] in wrong_queries:
                err = wrong_queries[c["name"]]
            if err is None and c["digest"] and c["digest"] != expected:
                err = f"digest {c['digest']} != recorded {expected}"
            if err is not None:
                failed += 1
                log(f"check {c['name']} failed: {err}")
    e2e = {
        "setup_s": raw["setup_s"],
        "run_s": statistics.median(op["s"] for op in raw["ops"]),
        "peak_rss_mb": raw["peak_rss_mb"],
        "ok_frac": (attempted - failed) / attempted,
    }
    if args.trace:
        # the end-to-end metrics as this traced run measured them: their
        # gap to an untraced run's is the tracing overhead
        layers = dict(raw["layers"])
        layers.update({f"trace.{k}": v for k, v in e2e.items()})
        values = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        tag_layers(raw, layers, units, args)
    else:
        values = e2e
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    return failed == 0, attempted, failed, metrics


def tag_layers(raw, layers, units, args):
    """Write the traced run's per-layer metrics, each tagged with the
    end-to-end metric it should move and whether this workload is
    predicted to move it, next to the span file."""
    plan = json.loads((BENCH / "workloads.json").read_text())
    moves = plan["layer_moves"]
    mine = plan["workloads"][args.workload]["moves"]
    tagged = {k: {"value": layers.get(k, 0.0), "unit": units[k],
                  "workload": args.workload, "moves": moves[k],
                  "predicted": "moves" if k in mine else "flat"}
              for k in units}
    out = BUILD / "traces" / f"{raw['run_id']}-layers.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(tagged, indent=1, sort_keys=True) + "\n")
    missing = [k for k in mine if k not in layers]
    if missing:
        raise SystemExit(f"traced run did not measure {missing}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # one core of the box stays free for the scheduling thread and the JIT
    # compiler, which otherwise take turns with the task threads and make
    # operation times noisy
    ap.add_argument("--cores", type=int,
                    default=max(1, min(3, len(os.sched_getaffinity(0)) - 1)))
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload}")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log("engine sources not found: run from the root of the repository")
        sys.exit(2)
    args.data = Path(os.environ.get("SPARK_GRAFT_SF_DIR",
                                    Path.home() / "testdata" / "sf0.1"))
    if not (args.data / "lineitem.parquet").exists():
        log(f"sf tables not found in {args.data}")
        sys.exit(2)

    cp = classpath()
    t0 = time.time()
    work = BUILD / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    raw_file = BUILD / "logs" / f"{args.workload}-{args.seed}-t{args.trace}.json"
    try:
        raw = run_jvm(cp, args, work, raw_file, RUN_LIMIT_S)
        correct, attempted, failed, metrics = score(raw, spec, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"{args.workload} seed {args.seed}: {time.time() - t0:.1f} s")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
