"""Load generator for the cron_ingest workload, run as its own process.

Waits for the benchmark JVM to publish its schedule (a `ready` file
holding `t0_ms interval_ms`), then lands pre-written drop files into the
drop directory by atomic rename at t0 + (k - 1) * interval for k = 1..n,
whether or not the system keeps up.  Each landing is logged as
`k due_ms landed_ms` so the run can report how late the offered load was.

Usage: python3 lander.py <staged_dir> <drop_dir> <ready_file> <log_file> <name>...
"""
import os
import sys
import time


def main():
    staged, drops, ready, log = sys.argv[1:5]
    names = sys.argv[5:]
    deadline = time.time() + 170
    while not os.path.exists(ready):
        if time.time() > deadline:
            sys.exit(1)
        time.sleep(0.01)
    with open(ready) as f:
        t0_ms, interval_ms = (int(x) for x in f.read().split())
    with open(log, "w") as out:
        for k, name in enumerate(names, start=1):
            due = t0_ms + (k - 1) * interval_ms
            wait = due / 1000.0 - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(staged, name), os.path.join(drops, name))
            out.write(f"{k} {due} {int(time.time() * 1000)}\n")
            out.flush()


if __name__ == "__main__":
    main()
