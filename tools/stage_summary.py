#!/usr/bin/env python3
"""Per-query stage/shuffle summary from a Spark event log.

The iterative kernels materialize eagerly during query construction, so
a gate's final `.explain` cannot show its per-iteration plans; the
committed evidence standard for those claims (VERDICT r19 wrong #4) is
this parse of the event log instead: for each job-description label
(Bench/BenchOne set one per query), the number of jobs, stages and
tasks, the total shuffle read/write bytes, and the summed stage wall.

Usage: stage_summary.py <eventlog file or dir> [label-substring ...]
"""
import sys, json, os, glob, collections


def load_events(path):
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*")))
    else:
        files = [path]
    for f in files:
        if f.endswith(".inprogress") or os.path.isdir(f):
            continue
        with open(f, errors="replace") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    if isinstance(ev, dict):
                        yield ev


def main():
    path = sys.argv[1]
    only = sys.argv[2:]
    job_label = {}            # job id -> description
    stage_label = {}          # stage id -> description
    agg = collections.defaultdict(lambda: collections.Counter())
    for ev in load_events(path):
        t = ev.get("Event")
        if t == "SparkListenerJobStart":
            desc = ev.get("Properties", {}).get(
                "spark.job.description") or "(unlabeled)"
            job_label[ev["Job ID"]] = desc
            agg[desc]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_label[sid] = desc
        elif t == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            desc = stage_label.get(si["Stage ID"], "(unlabeled)")
            a = agg[desc]
            a["stages"] += 1
            a["tasks"] += si.get("Number of Tasks", 0)
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            if sub and comp:
                a["stage_wall_ms"] += comp - sub
        elif t == "SparkListenerTaskEnd":
            si = ev.get("Stage ID")
            desc = stage_label.get(si, "(unlabeled)")
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            a = agg[desc]
            a["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0) +
                                    sr.get("Local Bytes Read", 0))
            a["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
    rows = []
    for desc, a in agg.items():
        if only and not any(o in desc for o in only):
            continue
        rows.append((desc, a))
    rows.sort(key=lambda r: -r[1]["stage_wall_ms"])
    print(f"{'label':44s} {'jobs':>5s} {'stages':>6s} {'tasks':>7s} "
          f"{'stage_wall_s':>12s} {'shuf_read_MB':>12s} {'shuf_write_MB':>13s}")
    for desc, a in rows:
        print(f"{desc[:44]:44s} {a['jobs']:5d} {a['stages']:6d} "
              f"{a['tasks']:7d} {a['stage_wall_ms']/1e3:12.2f} "
              f"{a['shuffle_read_b']/1e6:12.2f} {a['shuffle_write_b']/1e6:13.2f}")


if __name__ == "__main__":
    main()
