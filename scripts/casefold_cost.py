"""What ``casefold.lower`` costs next to ``F.lower``, cold and warm.

Each fold runs in its own fresh ``local[1]`` JVM over the same cached
rows.  The first pass is cold: for ``F.lower`` it includes Spark 4.1's
ICU case-mapping start-up (see ``casefold.py``).  ICU is then started
on purpose and the warm passes show the per-character cost.  CPU is
the JVM's, read from ``/proc`` (Linux only); the identity pass
(``length(text)``) is subtracted for ``ns_per_char``.

    python3 scripts/casefold_cost.py --text ascii --rows 100000 --reps 5

``--text``: ``ascii`` (mixed-case words), ``lowercase``, ``mixed`` (one
row in ten holds a non-ASCII word), ``nonascii`` (every row does) or
``op`` (short CDC op codes).  Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORDS = ("Spark batch Query Window hash Merge stream Table scan Value "
         "Filter group Row key Part join Order the and is").split()
NON_ASCII = "Über café Straße ΣΑΣ naïve Ελλάδα 東京 データ".split()
OPS = ("Insert", "UPDATE", "delete", "u", "D")


def _rows(text: str, n: int):
    rng = random.Random(7)
    for i in range(n):
        if text == "op":
            yield (rng.choice(OPS),)
            continue
        w = [rng.choice(WORDS) for _ in range(50)]
        if text == "lowercase":
            w = [x.lower() for x in w]
        if text == "nonascii" or (text == "mixed" and i % 10 == 0):
            w[rng.randrange(50)] = rng.choice(NON_ASCII)
        yield (" ".join(w),)


def _read(path: str, mode: str = "r"):
    with open(path, mode) as f:
        return f.read()


def _jvm_pid() -> str:
    me = str(os.getpid())
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            ppid = _read(f"/proc/{p}/stat").rsplit(")", 1)[1].split()[1]
            cmd = _read(f"/proc/{p}/cmdline", "rb")
        except OSError:
            continue
        if ppid == me and b"java" in cmd:
            return p
    raise RuntimeError("no JVM child process")


def _child(impl: str, text: str, n: int, reps: int) -> dict:
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from tap_airbyte_wrapper_spark.casefold import lower
    from tap_airbyte_wrapper_spark.cli import build_spark

    spark = build_spark("local[1]", {"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    pid, tck = _jvm_pid(), os.sysconf("SC_CLK_TCK")

    def cpu() -> float:
        f = _read(f"/proc/{pid}/stat").rsplit(")", 1)[1].split()
        return (int(f[11]) + int(f[12])) / tck

    def peak_mb() -> int:
        for line in _read(f"/proc/{pid}/status").splitlines():
            if line.startswith("VmHWM"):
                return int(line.split()[1]) // 1024
        return -1

    df = spark.createDataFrame(list(_rows(text, n)), "text string")
    df = df.repartition(1).cache()
    df.count()
    fold = F.lower("text") if impl == "spark" else lower(F.col("text"))

    def timed(expr) -> float:
        c0 = cpu()
        df.select(F.sum(F.length(expr))).collect()
        return cpu() - c0

    for _ in range(2):
        timed(F.col("text"))
    mb_before = peak_mb()
    cold = timed(fold)
    mb_cold = peak_mb()
    spark.range(1).select(F.lower(F.lit("É"))).collect()   # start ICU
    base, warm = [], []
    for _ in range(2):
        timed(fold)
    for _ in range(reps):
        base.append(timed(F.col("text")))
        warm.append(timed(fold))
    chars = df.select(F.sum(F.length("text"))).first()[0]
    spark.stop()
    med = lambda xs: sorted(xs)[len(xs) // 2]
    return {"cold_cpu_s": round(cold, 2),
            "warm_cpu_s": round(med(warm), 3),
            "base_cpu_s": round(med(base), 3),
            "ns_per_char": round((med(warm) - med(base)) * 1e9 / chars, 1),
            "jvm_peak_mb_before": mb_before, "jvm_peak_mb_after_cold": mb_cold,
            "chars": chars}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--text", default="ascii",
                    choices=("ascii", "lowercase", "mixed", "nonascii", "op"))
    ap.add_argument("--rows", type=int, default=100_000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--child", choices=("spark", "casefold"))
    a = ap.parse_args()
    if a.child:
        print(json.dumps(_child(a.child, a.text, a.rows, a.reps)))
        return
    out = {"text": a.text, "rows": a.rows}
    for impl in ("spark", "casefold"):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, __file__, "--child", impl, "--text", a.text,
             "--rows", str(a.rows), "--reps", str(a.reps)],
            capture_output=True, text=True, check=True)
        out[impl] = json.loads(proc.stdout.strip().splitlines()[-1])
        out[impl]["wall_s"] = round(time.time() - t0, 1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
