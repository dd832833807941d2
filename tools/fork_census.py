#!/usr/bin/env python3
"""Counts the operating-system processes a command's JVMs start.

Runs COMMAND with JAVA_TOOL_OPTIONS set to start a flight recording, so
every JVM the command launches records `jdk.ProcessStart` events (with
stack traces, as in the JDK's default settings) into a fresh directory.
When the command exits, prints the process starts of all recordings by
command (the executable's base name) and, for each, the innermost
Hadoop/Spark frame that started them: the first `org.apache.hadoop.` or
`org.apache.spark.` frame outside Hadoop's `Shell` helpers.

Usage (from the repository root):
  python3 tools/fork_census.py [--out DIR] [--json FILE] -- COMMAND [ARG...]
Example:
  python3 tools/fork_census.py -- python3 perfbench/run.py \\
      --workload ysb_open --seed 1 --seconds 9 --trace 0

Exits with COMMAND's exit status. Needs the JDK's `jfr` tool next to `java`.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys
import tempfile


def jfr_tool():
    java = shutil.which("java")
    if java:
        cand = os.path.join(os.path.dirname(os.path.realpath(java)), "jfr")
        if os.path.isfile(cand):
            return cand
    return shutil.which("jfr") or sys.exit("fork_census: no jfr tool found next to java")


def frame_name(frame):
    # JFR prints class names in internal form (org/apache/...)
    return f"{frame['method']['type']['name'].replace('/', '.')}.{frame['method']['name']}"


def origin(stack):
    """The innermost Hadoop/Spark frame of a stack, outside Hadoop's Shell."""
    for f in (stack or {}).get("frames", []):
        name = frame_name(f)
        if name.startswith(("org.apache.hadoop.", "org.apache.spark.")) \
                and not name.startswith("org.apache.hadoop.util.Shell"):
            return name
    return "-"


def process_starts(jfr, recording):
    out = subprocess.run([jfr, "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ProcessStart", recording],
                         capture_output=True, text=True, check=True).stdout
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        yield os.path.basename(v["command"].split(" ", 1)[0]), origin(v.get("stackTrace"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", help="directory for the recordings (default: a new temp dir)")
    ap.add_argument("--json", help="also write the counts to this file as JSON")
    ap.add_argument("command", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    cmd = a.command[1:] if a.command[:1] == ["--"] else a.command
    if not cmd:
        ap.error("no command given")
    out = os.path.abspath(a.out or tempfile.mkdtemp(prefix="fork-census-"))
    os.makedirs(out, exist_ok=True)
    rec = f"-XX:StartFlightRecording:dumponexit=true,filename={out}"
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [env.get("JAVA_TOOL_OPTIONS"), rec]))
    status = subprocess.run(cmd, env=env).returncode

    jfr = jfr_tool()
    recordings = sorted(os.path.join(out, f) for f in os.listdir(out) if f.endswith(".jfr"))
    counts = collections.Counter()
    for r in recordings:
        counts.update(process_starts(jfr, r))
    by_command = collections.Counter()
    for (command, _), n in counts.items():
        by_command[command] += n
    total = sum(counts.values())
    print(f"fork census: {total} process starts in {len(recordings)} JVM recording(s) ({out})")
    for command, n in by_command.most_common():
        print(f"{n:8d}  {command}")
        for (c, frame), m in counts.most_common():
            if c == command:
                print(f"{m:14d}  {frame}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"command": cmd, "exit_status": status, "recordings": len(recordings),
                       "process_starts": total, "by_command": dict(by_command),
                       "by_origin": [{"command": c, "frame": fr, "count": n}
                                     for (c, fr), n in counts.most_common()]}, f, indent=1)
    return status


if __name__ == "__main__":
    sys.exit(main())
