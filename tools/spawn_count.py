#!/usr/bin/env python3
"""Count the processes a command spawns, by what they exec.

    python3 tools/spawn_count.py [--interval-ms 1] [--out FILE] -- CMD [ARG...]

Runs CMD, polls /proc (read-only) for processes that descend from it and
tallies each one by the argv it exec'd: the program's basename plus its
leading option and mode arguments ("chmod 0644", "readlink", "rm -rf").
A child the JVM starts shows first as a copy of the JVM, then as
`jspawnhelper`, and only then as the program; a child is re-read on every
poll until it shows its own argv. The tally is the last stdout line (JSON),
after CMD's own output, and is also written to FILE with --out:

    {"command": [...], "exit": 0, "wall_s": 61.2, "polls": 48211,
     "spawned": 2987, "not_seen_exec": 3,
     "by_command": {"chmod 0644": 1499, "chmod 0755": 1005, ...}}

A process that starts and exits within one poll interval is not seen, so
the counts are lower bounds; `not_seen_exec` counts children that exited
before their exec was seen. A child first seen as a zombie is tallied by
its program name alone. Example, one benchmark run:

    python3 tools/spawn_count.py -- python3 perfbench/run.py \\
        --workload ingest_live --seed 22 --seconds 15 --trace 0
"""
import argparse
import json
import os
import subprocess
import sys
import time
from collections import Counter

HELPERS = ("jspawnhelper",)
# how long one poll keeps re-reading children that have not exec'd yet
SPIN_S = 0.005


def stat(pid):
    """(ppid, state, comm) of `pid`, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            s = f.read()
    except OSError:
        return None
    # comm is parenthesised and may hold spaces: split after its last ')'
    rest = s[s.rfind(b")") + 2:].split()
    comm = s[s.find(b"(") + 1:s.rfind(b")")].decode(errors="replace")
    return int(rest[1]), rest[0].decode(), comm


def argv(pid):
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    return [a.decode(errors="replace") for a in raw.split(b"\0") if a]


def key(args):
    """Program basename plus the short non-path arguments right after it."""
    words = [os.path.basename(args[0])]
    for a in args[1:3]:
        if "/" in a or "=" in a or len(a) > 12:
            break
        words.append(a)
    return " ".join(words)


def main():
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--interval-ms", type=float, default=1.0)
    ap.add_argument("--out")
    ap.add_argument("cmd", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    cmd = a.cmd[1:] if a.cmd[:1] == ["--"] else a.cmd
    if not cmd:
        ap.error("no command given")

    t0 = time.time()
    proc = subprocess.Popen(cmd)
    seen = {}                # pid -> ppid, every process seen
    tree = {proc.pid}        # the command and its descendants
    argvs = {proc.pid: cmd}  # descendant -> argv once exec'd
    pending = {}             # descendant -> last argv seen before its exec
    tally = Counter()
    not_seen_exec = 0
    polls = 0

    def settle(pid, args):
        if not args:
            # a zombie has no argv left; its comm still names the program
            st = stat(pid)
            if st and st[1] == "Z" and st[2] not in HELPERS:
                args = [st[2]]
        if not args or args == argvs.get(seen[pid]) or \
                os.path.basename(args[0]) in HELPERS:
            # not exec'd yet: a copy of its parent, or the JVM's helper
            pending[pid] = args or pending.get(pid)
            return
        pending.pop(pid, None)
        argvs[pid] = args
        tally[key(args)] += 1

    while True:
        done = proc.poll() is not None
        polls += 1
        pids = {int(p) for p in os.listdir("/proc") if p.isdigit()}
        for pid in set(seen) - pids:
            if pid in pending:
                not_seen_exec += 1
                tally["(exited before exec: %s)" % key(
                    pending.pop(pid) or ["?"])] += 1
            seen.pop(pid)
            tree.discard(pid)
            argvs.pop(pid, None)
        fresh = []
        for pid in pids - set(seen):
            st = stat(pid)
            if st is not None:
                seen[pid] = st[0]
                fresh.append(pid)
        # a child can be listed before its parent: grow to a fixed point
        grew = True
        while grew:
            grew = False
            for pid in fresh:
                if pid not in tree and seen[pid] in tree:
                    tree.add(pid)
                    settle(pid, argv(pid))
                    grew = True
        # a helper execs its program within a millisecond or so, and the
        # program may live no longer: watch only the unsettled children
        # until they exec or exit
        spin_until = time.time() + SPIN_S
        while pending and time.time() < spin_until:
            for pid in list(pending):
                args = argv(pid)
                if args is not None:
                    settle(pid, args)
        if done:
            break
        time.sleep(a.interval_ms / 1000.0)

    result = {
        "command": cmd, "exit": proc.returncode,
        "wall_s": round(time.time() - t0, 1), "polls": polls,
        "spawned": sum(tally.values()), "not_seen_exec": not_seen_exec,
        "by_command": dict(tally.most_common()),
    }
    line = json.dumps(result)
    if a.out:
        with open(a.out, "w") as f:
            f.write(line + "\n")
    print(line, flush=True)
    sys.exit(0 if proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
