"""Open-loop shard generator of the ``stream-open-loop`` workload.

Runs as its own process, single-threaded. Shard ``i`` (in file-name
order) is due at ``start + i / rate`` seconds; at its due time it is
renamed from the pending directory into the watched source directory,
regardless of how far the engine has got. The log written at exit
holds each shard's due and actual release time, so latency is counted
from when a shard was due and the generator's own lateness is known.

    python3 perfbench/feeder.py PENDING WATCHED RATE START LOG
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(argv: list[str]) -> int:
    pending, watched, rate, start, log = argv
    rate, start = float(rate), float(start)
    names = sorted(n for n in os.listdir(pending) if n.endswith(".parquet"))
    out = []
    for i, name in enumerate(names):
        due = start + i / rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(pending, name), os.path.join(watched, name))
        out.append({"file": name, "due": due, "released": time.time()})
    with open(log + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(log + ".tmp", log)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
