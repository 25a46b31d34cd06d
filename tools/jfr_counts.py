#!/usr/bin/env python3
"""Per-run ceremony counts from Java Flight Recorder recordings.

    python3 tools/jfr_counts.py REC.jfr            # counts of one recording
    python3 tools/jfr_counts.py OLD.jfr NEW.jfr    # both, and NEW - OLD

Prints two tables:
  - processes the JVM started (jdk.ProcessStart), by command: the base
    name of the program, so `chmod`, `readlink`, `rm`, ...;
  - codegen compiles, by thread kind: one compile is one defined
    org.apache.spark.sql.catalyst.expressions.GeneratedClass
    (jdk.ClassDefine; Janino defines each compiled unit under that name).

The recording must have jdk.ClassDefine enabled, which no stock setting
does. Record a run through the JVM's own option, for example:

    JAVA_TOOL_OPTIONS='-XX:StartFlightRecording:filename=/tmp/run.jfr,jdk.ClassDefine#enabled=true'

Needs the JDK's `jfr` tool on PATH (or in $JAVA_HOME/bin). Stdlib only.
"""
import collections
import json
import os
import re
import shutil
import subprocess
import sys

GENERATED = "org/apache/spark/sql/catalyst/expressions/GeneratedClass"
# thread-name prefixes that name a kind; other names lose their numbers
KINDS = [("Executor task launch worker", "executor task"),
         ("stream execution thread", "stream execution")]


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    cand = os.path.join(home, "bin", "jfr") if home else None
    tool = cand if cand and os.path.exists(cand) else shutil.which("jfr")
    if not tool:
        sys.exit("jfr_counts: the JDK's `jfr` tool is not on PATH")
    return tool


def thread_kind(name):
    for prefix, kind in KINDS:
        if name.startswith(prefix):
            return kind
    return re.sub(r"[-#\s]*\d+", "", name).strip() or "other"


def counts(path):
    """(processes by command, compiles by thread kind) of one recording."""
    out = subprocess.run(
        [jfr_tool(), "print", "--json", "--stack-depth", "1", "--events",
         "jdk.ProcessStart,jdk.ClassDefine", path],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    procs, compiles = collections.Counter(), collections.Counter()
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        if e["type"] == "jdk.ProcessStart":
            cmd = (v.get("command") or "").split()
            procs[os.path.basename(cmd[0]) if cmd else "?"] += 1
        elif (v.get("definedClass") or {}).get("name") == GENERATED:
            thread = (v.get("eventThread") or {}).get("javaName") or ""
            compiles[thread_kind(thread)] += 1
    return procs, compiles


def table(title, cols, rows):
    print(title)
    keys = sorted(set().union(*rows), key=lambda k: (-max(r[k] for r in rows), k))
    print("  " + "".join(f"{c:>10}" for c in cols) + "  key")
    for k in keys + ["TOTAL"]:
        vals = [sum(r.values()) if k == "TOTAL" else r[k] for r in rows]
        if len(rows) == 2:
            vals.append(vals[1] - vals[0])
        print("  " + "".join(f"{x:>10}" for x in vals) + f"  {k}")


def main(argv):
    if len(argv) not in (1, 2):
        sys.exit(__doc__)
    runs = [counts(p) for p in argv]
    cols = ["count"] if len(runs) == 1 else ["old", "new", "new-old"]
    table("processes started, by command", cols, [r[0] for r in runs])
    table("codegen compiles (GeneratedClass defined), by thread kind", cols,
          [r[1] for r in runs])


if __name__ == "__main__":
    main(sys.argv[1:])
