#!/usr/bin/env python3
"""Profile one perfbench workload with Java Flight Recorder.

    python3 scripts/jfr_hotspots.py --workload scan-pushdown [--seed 1] [--top 25]

Runs `perfbench/run.py` once, untraced, with `-XX:StartFlightRecording`
passed to the benchmark JVM through JAVA_TOOL_OPTIONS, so nothing under
perfbench/ changes. The benchmark must already be built (any earlier
`python3 perfbench/run.py ...` builds it): a build here would run sbt
under the recorder too.

Prints the top self frames of the samples taken on executor threads
("Executor task launch worker ..."), the number of executor samples
under `org.apache.parquet.hadoop.ParquetFileReader.readFooter` (footer
parsing, which the footer cache removes for files read before), then
the number of samples in which
`org.apache.hadoop.conf.Configuration.loadResource*` runs under a
`graft.sources.v2` frame: Hadoop parsing its XML resources on behalf of
a scan reader. Exits 1 when that last number is above 0.

`--root` profiles another checkout (for example the parent commit's) with
its own perfbench build.
"""
import argparse
import collections
import os
import shutil
import subprocess
import sys
import tempfile

EXECUTOR_THREAD = "Executor task launch worker"
CONF_PARSE = "org.apache.hadoop.conf.Configuration.loadResource"
READ_FOOTER = "org.apache.parquet.hadoop.ParquetFileReader.readFooter"
READER = "graft.sources.v2."


def samples(jfr_file):
    """Yield (thread name, [frames, leaf first]) per jdk.ExecutionSample,
    streaming `jfr print` so a long recording never sits in memory."""
    p = subprocess.Popen(["jfr", "print", "--events", "jdk.ExecutionSample",
                          "--stack-depth", "1024", jfr_file],
                         stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    thread, frames, in_stack = None, [], False
    for line in p.stdout:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread = "):
            thread = s[len("sampledThread = "):].split('"')[1] if '"' in s else s
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(s.split(" line:")[0])
        elif s == "}" and thread is not None:
            yield thread, frames
            thread = None
    if p.wait() != 0:
        raise SystemExit("jfr print failed on %s" % jfr_file)


def method(frame):
    """`pkg.Class.method(Args)` -> `pkg.Class.method`."""
    return frame.split("(")[0]


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("scan-pushdown", "stream-ingest", "pipeline-jobs"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--root", default=os.path.dirname(here),
                    help="checkout whose perfbench to run (default: this one)")
    ap.add_argument("--keep", help="copy the recording to this path")
    args = ap.parse_args()

    root = os.path.abspath(args.root)
    sys.dont_write_bytecode = True  # leave perfbench/ untouched
    sys.path.insert(0, os.path.join(root, "perfbench"))
    import run as perfbench  # perfbench/run.py: its build check only
    cp_file = perfbench.CLASSPATH_FILE
    if not os.path.exists(cp_file) or os.path.getmtime(cp_file) < perfbench.sources_mtime():
        raise SystemExit("perfbench in %s is not built or is stale; run "
                         "python3 perfbench/run.py once there first" % root)

    tmp = tempfile.mkdtemp(prefix="jfr_hotspots_")
    try:
        rec = os.path.join(tmp, "run.jfr")
        env = dict(os.environ)
        env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
                                    " -XX:FlightRecorderOptions:stackdepth=256"
                                    " -XX:StartFlightRecording=settings=profile,"
                                    "dumponexit=true,filename=" + rec).strip()
        cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0"]
        res = subprocess.run(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True)
        if res.returncode != 0 or not os.path.exists(rec):
            raise SystemExit("perfbench run failed (exit %d)" % res.returncode)
        print("perfbench: " + res.stdout.strip().splitlines()[-1])
        if args.keep:
            shutil.copyfile(rec, args.keep)

        self_frames = collections.Counter()
        executor = total = conf_parse = footer = 0
        for thread, frames in samples(rec):
            total += 1
            if frames and any(CONF_PARSE in f for f in frames) and \
                    any(READER in f for f in frames):
                conf_parse += 1
            if thread.startswith(EXECUTOR_THREAD):
                executor += 1
                if any(READ_FOOTER in f for f in frames):
                    footer += 1
                if frames:
                    self_frames[method(frames[0])] += 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print("samples: %d, on executor threads: %d" % (total, executor))
    print("top %d self frames on executor threads:" % args.top)
    for m, n in self_frames.most_common(args.top):
        print("%7d  %5.1f%%  %s" % (n, 100.0 * n / max(executor, 1), m))
    print("executor samples under %s: %d" % (READ_FOOTER, footer))
    print("Configuration.loadResource* samples under a %s reader frame: %d"
          % (READER.rstrip("."), conf_parse))
    return 1 if conf_parse > 0 else 0


if __name__ == "__main__":
    sys.exit(main())
