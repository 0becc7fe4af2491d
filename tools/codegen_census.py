#!/usr/bin/env python3
"""Census of the classes Spark's code generator compiles, per crawl round.

    python3 tools/codegen_census.py CODEGEN_LOG EVENT_LOG [--phases K] [--steady A-B]

CODEGEN_LOG is a log4j2 file log of the logger
org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator at DEBUG,
with the layout

    %d{UNIX_MILLIS} [%t] %p %c{1}: %m%n

(epoch milliseconds, then the thread name in brackets). At DEBUG every
compile logs its formatted source, followed by an INFO line "Code generated
in X ms". Run the program with spark.sql.codegen.cache.maxEntries=1 so that
every cache lookup compiles and shows up in the log (the working set), or
with the default cache to see what it really compiles.

EVENT_LOG is the Spark event log of the same run, written uncompressed
(spark.eventLog.compress=false): a file, or the directory spark.eventLog.dir
pointed at. It maps stages to jobs, and jobs to their description; every
crawl-round job is described as "round-<k>/<phase>".

A class is the SHA-1 of its source. A cache key is (class, side): Spark's
cache is keyed by the source AND the thread's context class loader, and in
local mode a driver thread and an executor task thread ("Executor task
launch worker ... in stage S.A ...") have different loaders, so one class
used on both sides takes two keys. A key compiled again later is counted as
a recompile: an eviction, or a task that ran under a fresh class loader
(the jobs of a cloned session do).

Attribution:
  - a compile on an executor task thread belongs to the job of its stage,
    hence to that job's round and phase (exact);
  - a compile on a driver thread belongs to the round whose time window
    holds it (round k's window ends when its last job ends). Its phase is
    the phase of the same class compiled on an executor in that round, or
    else the phase of the round's job submitted nearest in time to it
    (approximate: several phases plan concurrently).

Output: per round the distinct classes and keys, the compiles, and how many
of those compiled a key for the first time in the run; with --phases K the
per-phase table of round K (phases overlap: one class can serve several
phases); with --steady A-B the largest key count over rounds A..B.
"""
import argparse
import bisect
import collections
import hashlib
import json
import os
import re
import sys

HEADER = re.compile(r"^(\d{13}) \[(.*?)\] (\w+) (\S+): ?(.*)$")
TASK_THREAD = re.compile(r"^Executor task launch worker .* in stage (\d+)\.\d+")
ROUND_DESC = re.compile(r"^round-(\d+)/(.+)$")
ROLLED = re.compile(r"events_(\d+)_")
COMPILED = "Code generated in"


def log_records(path):
    """Yields (ms, thread, level, message lines) per log record."""
    rec = None
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            m = HEADER.match(line.rstrip("\n"))
            if m:
                if rec:
                    yield rec
                ms, thread, level, _, msg = m.groups()
                rec = (int(ms), thread, level, [msg])
            elif rec:
                rec[3].append(line.rstrip("\n"))
    if rec:
        yield rec


def compiles(path):
    """(ms, thread, class hash) per logged source, in log order, and the
    number of 'Code generated in' lines."""
    out, n_compiled = [], 0
    for ms, thread, level, lines in log_records(path):
        if level == "DEBUG":
            body = "\n".join(lines).strip("\n")
            if body:
                out.append((ms, thread, hashlib.sha1(body.encode()).hexdigest()))
        elif lines[0].startswith(COMPILED):
            n_compiled += 1
    return out, n_compiled


def event_log_files(path):
    """The event log's files in write order: a plain file, or a directory
    (spark.eventLog.dir, or a rolling eventlog_v2_* directory) holding the
    log of one application."""
    if not os.path.isdir(path):
        return [path]
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if not f.startswith((".", "appstatus"))]
    if not files:
        sys.exit(f"{path}: no event log found")
    packed = [f for f in files if f.endswith((".zstd", ".lz4", ".snappy", ".lzf"))]
    if packed:
        sys.exit(f"{packed[0]}: compressed; write the event log with "
                 "spark.eventLog.compress=false")
    return sorted(files, key=lambda f: int(ROLLED.search(f).group(1))
                  if ROLLED.search(f) else 0)


def read_jobs(path):
    """job id -> {desc, submit, end}, and stage id -> job id."""
    jobs, stage_job = {}, {}
    for name in event_log_files(path):
        with open(name, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {"desc": props.get("spark.job.description") or "",
                                 "submit": ev.get("Submission Time", 0),
                                 "end": ev.get("Submission Time", 0)}
                    for s in ev.get("Stage IDs", []):
                        stage_job[s] = jid
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0)
    return jobs, stage_job


def round_phase(desc):
    m = ROUND_DESC.match(desc)
    return (int(m.group(1)), m.group(2)) if m else (None, None)


def round_windows(jobs):
    """A function ms -> round, and (submit time, phase) of each round's jobs.
    Round k's window is (end of round k-1's last job, end of round k's last
    job]; the first round's opens when the last job submitted before it
    ends. Earlier compiles are "setup", later ones "after"."""
    last_end = collections.defaultdict(int)
    round_jobs = collections.defaultdict(list)
    for j in jobs.values():
        r, p = round_phase(j["desc"])
        if r is not None:
            last_end[r] = max(last_end[r], j["end"])
            round_jobs[r].append((j["submit"], p))
    rounds = sorted(last_end)
    ends = [last_end[r] for r in rounds]
    first_submit = min(s for s, _ in round_jobs[rounds[0]]) if rounds else 0
    setup_end = max((j["end"] for j in jobs.values()
                     if round_phase(j["desc"])[0] is None
                     and j["submit"] < first_submit), default=0)

    def window(ms):
        if not rounds or ms <= setup_end:
            return "setup"
        i = bisect.bisect_left(ends, ms)
        return rounds[i] if i < len(rounds) else "after"
    return window, round_jobs


def census(codegen_log, event_log):
    events, n_compiled = compiles(codegen_log)
    jobs, stage_job = read_jobs(event_log)
    window, round_jobs = round_windows(jobs)

    # (ms, round, phases or None, key) per compile, in log order; a driver
    # compile's phases are settled once every executor compile is placed
    placed, exec_phase = [], collections.defaultdict(set)
    for ms, thread, h in events:
        m = TASK_THREAD.match(thread)
        if m:
            jid = stage_job.get(int(m.group(1)))
            r, p = round_phase(jobs[jid]["desc"]) if jid in jobs else (None, None)
            r = window(ms) if r is None else r
            p = p or "(no round job)"
            exec_phase[(r, h)].add(p)
            placed.append((ms, r, {p}, (h, "executor")))
        else:
            placed.append((ms, window(ms), None, (h, "driver")))

    per_round = collections.defaultdict(
        lambda: {"classes": set(), "keys": set(), "compiles": 0, "new": 0})
    per_phase = collections.defaultdict(
        lambda: collections.defaultdict(lambda: {"classes": set(), "keys": set()}))
    seen = set()
    for ms, r, phases, key in placed:
        h = key[0]
        if phases is None:
            phases = exec_phase.get((r, h))
            if not phases and isinstance(r, int) and round_jobs[r]:
                phases = {min(round_jobs[r], key=lambda sp: abs(sp[0] - ms))[1]}
            phases = phases or {"(driver)"}
        counts = per_round[r]
        counts["classes"].add(h)
        counts["keys"].add(key)
        counts["compiles"] += 1
        counts["new"] += key not in seen
        seen.add(key)
        for p in phases:
            per_phase[r][p]["classes"].add(h)
            per_phase[r][p]["keys"].add(key)
    return per_round, per_phase, n_compiled, len(events)


def order(r):
    return (0, -1) if r == "setup" else (2, 0) if r == "after" else (1, r)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("codegen_log")
    ap.add_argument("event_log")
    ap.add_argument("--phases", type=int, action="append", default=[],
                    help="print the per-phase table of this round")
    ap.add_argument("--steady", default=None,
                    help="rounds A-B: report their largest key count")
    a = ap.parse_args()
    per_round, per_phase, n_compiled, n_sources = census(a.codegen_log,
                                                         a.event_log)

    print(f"'{COMPILED}' lines: {n_compiled}; logged sources: {n_sources}")
    print(f"{'round':>6} {'classes':>8} {'keys':>6} {'compiles':>9} {'new':>5}")
    for r in sorted(per_round, key=order):
        counts = per_round[r]
        print(f"{r!s:>6} {len(counts['classes']):>8} {len(counts['keys']):>6} "
              f"{counts['compiles']:>9} {counts['new']:>5}")
    for k in a.phases:
        print(f"\nround {k} by phase (phases overlap)")
        print(f"{'phase':>24} {'classes':>8} {'keys':>6}")
        rows = sorted(per_phase.get(k, {}).items(),
                      key=lambda kv: -len(kv[1]["keys"]))
        for p, ph in rows:
            print(f"{p:>24} {len(ph['classes']):>8} {len(ph['keys']):>6}")
    if a.steady:
        lo, hi = (int(x) for x in a.steady.split("-"))
        ks = {r: len(per_round[r]["keys"]) for r in range(lo, hi + 1)
              if r in per_round}
        if ks:
            print(f"\nsteady rounds {lo}-{hi}: keys " +
                  ", ".join(f"r{r}={n}" for r, n in sorted(ks.items())) +
                  f"; max {max(ks.values())}")


if __name__ == "__main__":
    main()
