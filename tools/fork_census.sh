#!/usr/bin/env bash
# Child processes a JVM started, from a JFR recording: jdk.ProcessStart
# counts by command and by the first org.apache.spark or graft frame
# of the starting stack. No listener metric shows time spent waiting
# on a child process, so this is how per-operation launches (e.g. a
# `chmod` per checkpoint file) are found.
#
# Record a run (the profile settings keep ProcessStart stack traces):
#   java -XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile ...
# (for sbt or a harness that starts its own JVM, pass the same flag in
# JAVA_TOOL_OPTIONS with filename=<dir>/; each JVM writes its own file).
#
# Usage: tools/fork_census.sh <recording.jfr>
set -euo pipefail
JFR_FILE="${1:?usage: fork_census.sh <recording.jfr>}"
jfr print --json --stack-depth 64 --events jdk.ProcessStart "$JFR_FILE" | python3 -c '
import collections, json, sys

events = json.load(sys.stdin)["recording"]["events"]
by_cmd, by_frame = collections.Counter(), collections.Counter()
for e in events:
    v = e["values"]
    cmd = (v.get("command") or "?").split()
    by_cmd[cmd[0].rsplit("/", 1)[-1] if cmd else "?"] += 1
    frames = ((v.get("stackTrace") or {}).get("frames")) or []
    site = "(no org.apache.spark / graft frame)"
    for f in frames:
        cls = f["method"]["type"]["name"].replace("/", ".")
        # a lambda frame names no code a reader can find; take its caller
        if cls.startswith(("org.apache.spark", "graft")) and "$$Lambda" not in cls:
            site = "%s.%s" % (cls, f["method"]["name"])
            break
    by_frame[site] += 1

print("jdk.ProcessStart events: %d" % len(events))
print("\nby command:")
for c, n in by_cmd.most_common():
    print("%8d  %s" % (n, c))
print("\nby first org.apache.spark / graft frame:")
for s, n in by_frame.most_common():
    print("%8d  %s" % (n, s))
'
