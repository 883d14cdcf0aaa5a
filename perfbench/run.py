"""Benchmark of the git ETL and the query engine. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the system from source with the harness in perfbench/ (sbt, cached
under .bench_build/ by a digest of the sources), generates the workload's
inputs from the seed, and runs one JVM (`perfbench.Harness`) with one
closed-loop client. The last line of standard output is one JSON object:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gitgen  # noqa: E402
import metrics  # noqa: E402

BUILD = ".bench_build"
SOURCES = ["src/main/scala", "perfbench/src/main", "perfbench/build.sbt",
           "perfbench/project/build.properties"]
# One query per kernel module, the module's cheapest whose digest repeats.
MIX = ["q1_authors_leaderboard", "q7_star_join_revenue", "q109_pagerank",
       "q36_dedup_simhash", "q110_setsim_join", "q178_array_functions",
       "q264_bpe_pack_sequences", "q389_weighted_sample", "q396_ktruss",
       "q416_kn_discount_sweep", "q430_cdc_chunks", "q96_stream_dedup"]
WORKLOADS = {
    "etl-append": dict(commits=1200, repos=4, batches=24, batch_share=0.02),
    "query-small": dict(sf=0.001, mix=MIX),
}
# Modules whose per-layer metrics the traced run reports (the mix's modules).
MODULES = ["Relational", "Graph", "Dedup", "Fuzzy", "Similarity", "Subword", "Round12",
           "Round13", "Round14", "Round15", "StreamGate"]
SETUP_REPS = 3
DATA_SEED = 42
RUN_TIMEOUT_S = 175
# JVM module openings Spark needs, shared with build.sbt's forked tests.
ADD_OPENS = open(f"{HERE}/add-opens.txt").read().split()
# A 2 GB heap, committed but not touched, under the parallel collector with
# a fixed 1 GB young generation: the young collections stay short, and what
# the old generation touches is what the program promotes, so peak RSS moves
# with the program's memory. Under the default collector peak RSS follows its
# timing-driven heap sizing; with a small young generation objects are
# promoted early and full collections run about once a second.
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-XX:MetaspaceSize=256m"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for root in SOURCES:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the system and the harness; returns the JVM classpath."""
    stamp, cp_file = f"{BUILD}/build.stamp", f"{BUILD}/classpath.txt"
    digest = source_digest()
    if os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read()
    log("building (sbt) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.abspath(f"{BUILD}/sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repo_cfg):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Compile/fullClasspath"], cwd="perfbench", env=env,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=850)
    text = out.stdout.decode(errors="replace")
    lines = [l for l in text.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(text[-4000:])
        sys.exit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    open(cp_file, "w").write(lines[-1].strip())
    open(stamp, "w").write(digest)
    return lines[-1].strip()


def etl_inputs(spec, seed, work):
    """Generates the repos SETUP_REPS times (timed); keeps the last copy."""
    times, paths = [], None
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        streams = gitgen.generate(seed, spec["commits"], spec["repos"],
                                  spec["batches"], spec["batch_share"])
        root = f"{work}/git-{r}"
        paths = gitgen.materialize(streams, root)
        times.append(time.perf_counter() - t0)
        if r:
            shutil.rmtree(f"{work}/git-{r - 1}")
    cfg = dict(repos=paths, oracle_cmd=[sys.executable, "perfbench/gitgen.py", "oracle"],
               batches={os.path.basename(p): sorted(
                   os.path.join(root, "batches", os.path.basename(p), f)
                   for f in os.listdir(os.path.join(root, "batches", os.path.basename(p))))
                   for p in paths})
    return cfg, statistics.median(times)


def query_inputs(spec, seed, workload, record):
    digests = json.load(open(f"{HERE}/digests.json")).get(workload, {})
    missing = [q for q in spec["mix"] if q not in digests]
    if missing and not record:
        sys.exit(f"perfbench: no recorded digest for {missing}; record them with --record-digests")
    order = list(spec["mix"])
    random.Random(seed).shuffle(order)
    return dict(sf=spec["sf"], mix=spec["mix"], order=order, digests=digests,
                data_seed=DATA_SEED), 0.0


def git_shim(work):
    """A `git` on PATH that logs each invocation, and the bytes each `git log`
    writes to its standard output, then passes the real git's output and exit
    code through. The system runs git with the repo as working directory, so
    the subcommand is the first argument."""
    real = shutil.which("git")
    work = os.path.abspath(work)
    d, out_dir = f"{work}/shim", f"{work}/shim-out"
    os.makedirs(d)
    os.makedirs(out_dir)
    calls, log_bytes = f"{work}/git-calls.log", f"{work}/git-log-bytes.log"
    with open(f"{d}/git", "w") as f:
        f.write(f"""#!/bin/sh
echo "$1" >> "{calls}"
if [ "$1" = log ]; then
  out=$(mktemp "{out_dir}/log.XXXXXX")
  "{real}" "$@" > "$out"
  rc=$?
  wc -c < "$out" >> "{log_bytes}"
  cat "$out"
  rm -f "$out"
  exit $rc
fi
exec "{real}" "$@"
""")
    os.chmod(f"{d}/git", 0o755)
    return d, calls, log_bytes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"],
                    help="one workload, or all of them in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="record the query digests of this run into perfbench/digests.json")
    a = ap.parse_args()
    if a.workload == "all":
        codes = [subprocess.run([sys.executable, __file__, "--workload", w, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace)]).returncode
                 for w in WORKLOADS]
        sys.exit(max(codes))
    if not os.path.isfile("src/main/scala/graft/Main.scala"):
        sys.exit("perfbench: run from the repository root; the system's sources are missing")

    cp = build()
    t_built = time.monotonic()
    spec = WORKLOADS[a.workload]
    work = os.path.abspath(f"{BUILD}/work/{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp/java")
    try:
        if "sf" in spec:
            cfg, gen_s = query_inputs(spec, a.seed, a.workload, a.record_digests)
        else:
            cfg, gen_s = etl_inputs(spec, a.seed, work)
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        if a.trace:
            shim, cfg["git_calls"], cfg["git_log_bytes"] = git_shim(work)
            env["PATH"] = shim + os.pathsep + env["PATH"]
        cfg.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=bool(a.trace),
                   work=work, setup_reps=SETUP_REPS, record=a.record_digests)
        json.dump(cfg, open(f"{work}/config.json", "w"))
        cmd = (["java"] + JVM_HEAP + ["-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}/tmp/java",
                f"-Dlog4j.configurationFile={HERE}/log4j2.properties"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Harness", f"{work}/config.json", f"{work}/result.json"])
        cpu0 = cpu_times()
        proc = subprocess.run(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=max(10, RUN_TIMEOUT_S - (time.monotonic() - t_built)))
        steal = share_stolen(cpu0, cpu_times())
        if proc.returncode != 0:
            sys.exit(f"perfbench: harness exited with {proc.returncode}")
        res = json.load(open(f"{work}/result.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.record_digests:
        path = f"{HERE}/digests.json"
        book = json.load(open(path))
        book[a.workload] = {q: ds[0] for q, ds in sorted(res["digests"].items())
                            if len(set(ds)) == 1}
        json.dump(book, open(path, "w"), indent=1, sort_keys=True)
        log(f"recorded {len(book[a.workload])} digests; unstable: "
            f"{sorted(q for q, ds in res['digests'].items() if len(set(ds)) != 1)}")

    log(f"session {res['session_s']:.2f}s, generation {gen_s:.2f}s, set-up reps "
        f"{[round(x, 2) for x in res['setup_reps_s']]}, once {res['setup_once_s']:.2f}s, "
        f"ops {[(o['name'][:12], round(o['latency_s'], 2)) for o in res['ops']]}")
    all_ops = res["ops"] + res["traced_ops"]
    failed = sum(1 for o in all_ops if not o["ok"])
    e2e, notes = metrics.end_to_end(res, gen_s)
    if a.trace:
        layer = metrics.per_layer(res, MODULES, e2e["op_p50_s"][0])
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layer.items())}
        os.makedirs(BUILD, exist_ok=True)
        per_op = {}
        for c in res["trace"]["counters"]:
            if c["name"] in ("GitCli.log_mb", "Pipeline.new_log_mb", "Pipeline.mb_written"):
                per_op.setdefault(c["op"], {})[c["name"]] = c["value"]
        json.dump(dict(workload=a.workload, seed=a.seed, per_layer=layer,
                       per_op=[dict(op=k, **v) for k, v in sorted(per_op.items())],
                       spans_with_notes=sorted({(s["name"], s["note"]) for s in res["trace"]["spans"]
                                                if "note" in s})),
                  open(f"{BUILD}/trace-{a.workload}.json", "w"), indent=1)
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(f"workload {a.workload} seed {a.seed}: {len(all_ops)} ops, {failed} failed, "
          f"failed_share {failed / max(1, len(all_ops)):.4f}; op_tail_s is "
          f"p{notes['op_tail_percentile']} with {notes['op_tail_beyond']} of "
          f"{notes['ops']} samples beyond; the hypervisor took {steal:.1%} of CPU time")
    for k, v in out.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    for n in res["check_notes"]:
        print(f"  check: {n}")
    correct = failed == 0 and res["final_ok"] and (a.record_digests or not res["check_notes"])
    print(json.dumps(dict(correct=bool(correct), attempted=len(all_ops), failed=failed,
                          metrics=out)))


def cpu_times():
    """The machine's CPU time counters (/proc/stat), where available."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def share_stolen(before, after):
    """Share of CPU time between two readings that the hypervisor stole."""
    if not before or not after or len(after) < 8:
        return 0.0
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or ".mb_" in name:
        return "MB"
    if name.endswith("write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
