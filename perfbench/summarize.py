"""Median and spread of benchmark runs.

    python3 perfbench/summarize.py run1.out run2.out ...

Each file holds the standard output of one `perfbench/run.py` run; its last
line is the result object. Prints, per metric, the median and the distance
between the first and third quartile (statistics.quantiles, n=4) as a share
of the median, with the run count and how many runs were correct.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return json.loads(f.read().strip().splitlines()[-1])


def summarize(results):
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": med, "iqr_share": (q3 - q1) / med if med else 0.0,
                     "unit": results[0]["metrics"][name]["unit"], "values": vals}
    return out


if __name__ == "__main__":
    runs = [load(p) for p in sys.argv[1:]]
    print(f"runs {len(runs)}, correct {sum(r['correct'] for r in runs)}")
    for name, s in summarize(runs).items():
        print(f"{name:20s} median {s['median']:12.4f} {s['unit']:6s} spread {s['iqr_share']:.3f}")
