#!/usr/bin/env python3
"""Count the processes a JVM started, from a JFR recording.

    python3 tools/jfr_forks.py <file.jfr>

Prints the `jdk.ProcessStart` events of the recording by command (the
executable's name), by the starting thread's name up to its first digit,
`[`, `(` or `#` (so `Executor task launch worker for task 3.0 ...` and
`... task 7.0 ...` count together), and how many have `org.apache.hadoop.util.Shell` in their
stack. JFR's default settings record these events with stack traces; start
the JVM with `-XX:StartFlightRecording=filename=<run>.jfr` and stop it
normally. Needs the JDK's `jfr` tool on PATH.
"""
import collections
import json
import re
import subprocess
import sys

SHELL = "org.apache.hadoop.util.Shell"


def process_starts(jfr_file):
    """The recording's jdk.ProcessStart events, as `jfr print --json` gives them."""
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart", jfr_file],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def command(event):
    words = (event["values"].get("command") or "").split()
    return words[0].rsplit("/", 1)[-1] if words else "?"


def thread_prefix(event):
    thread = event["values"].get("eventThread") or {}
    name = thread.get("javaName") or thread.get("osName") or "?"
    return re.split(r"[\d\[(#]", name, maxsplit=1)[0].rstrip(" -") or name


def from_shell(event):
    frames = (event["values"].get("stackTrace") or {}).get("frames") or []
    # JFR's JSON spells class names with slashes
    return any(f["method"]["type"]["name"].replace("/", ".").startswith(SHELL) for f in frames)


def summarize(events):
    return {
        "total": len(events),
        "from_hadoop_shell": sum(1 for e in events if from_shell(e)),
        "by_command": collections.Counter(command(e) for e in events),
        "by_thread": collections.Counter(thread_prefix(e) for e in events),
    }


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().split("\n\n")[1])
    s = summarize(process_starts(sys.argv[1]))
    print(f"jdk.ProcessStart: {s['total']} ({s['from_hadoop_shell']} through {SHELL})")
    for title in ("by_command", "by_thread"):
        print(f"\n{title.replace('_', ' ')}:")
        for key, n in s[title].most_common():
            print(f"  {n:7d}  {key}")


if __name__ == "__main__":
    main()
