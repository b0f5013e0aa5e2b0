"""One leg of ``extract.scaling_eff_1v4``: the seconds of the extract
stage over the input in a fresh JVM with ``local[<cores>]``, printed as the
last stdout line.

    taskset -c 0 python3 perfbench/scaling_probe.py --cores 1 --input <transcripts> --work <dir>

The traced ``extract_rich`` run starts it, pinned with ``taskset`` to as
many CPUs as ``--cores``; see ``workloads.scaling_probe``.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import workloads  # noqa: E402

if __name__ == "__main__":
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--input", required=True)
    p.add_argument("--work", required=True)
    a = p.parse_args()
    print(workloads.scaling_probe(a.cores, a.input, a.work))
