"""Open-loop live-tail appender for the streaming workload.

Makes each staged (hidden) segment visible by renaming it at its scheduled
time, t0 + at_s, whether or not the stream has kept up: the schedule never
waits for the system under test.  Writes the actual time of every rename, so
the caller can report how late the appender ran.

    python3 perfbench/tail.py SCHEDULE.json T0_EPOCH_S ACTUAL.json
"""

import json
import os
import sys
import time


def main():
    schedule_file, t0, actual_file = sys.argv[1], float(sys.argv[2]), sys.argv[3]
    with open(schedule_file) as f:
        schedule = json.load(f)
    actual = []
    for seg in schedule:
        due = t0 + seg["at_s"]
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.replace(seg["hidden"], seg["final"])
        actual.append(time.time())
    with open(actual_file, "w") as f:
        json.dump(actual, f)


if __name__ == "__main__":
    main()
