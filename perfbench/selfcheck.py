"""Self-check of the benchmark itself.

    python3 perfbench/selfcheck.py          # declarations + comparator
    python3 perfbench/selfcheck.py --run    # also runs the benchmark once
                                            # per mode on seed 0

Checks that ``BENCHMARK.json`` declares the generator's workloads and
that ``perfbench/metrics.json`` annotates exactly its metrics, each layer
metric with what it should move and on which workload; that the golden
comparator fails a document for one altered span text, one dropped span
and one missing document (so the correctness check cannot pass
vacuously); and, with ``--run``, that each mode prints every declared
metric with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def expect(cond, what) -> None:
    if not cond:
        raise SystemExit(f"perfbench selfcheck: FAILED: {what}")


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def check_declarations() -> None:
    bench = declared()
    with open(os.path.join(BENCH_DIR, "metrics.json")) as fh:
        notes = json.load(fh)
    import inputs

    names = [w["name"] for w in bench["workloads"]]
    expect(names == list(inputs.WORKLOADS), names)
    for kind in ("end_to_end", "per_layer"):
        names = {m["name"] for m in bench[kind]}
        expect(names == set(notes[kind]),
               f"{kind} annotations: {sorted(names ^ set(notes[kind]))}")
    for name, note in notes["per_layer"].items():
        expect(note.get("moves") and note.get("on"), name)


def check_comparator() -> None:
    import inputs

    inp, _ = inputs.ensure_inputs(os.path.join(ROOT, ".perfbench_cache"),
                                  "docs_mixed", 0)
    golden = inp.golden
    rows = [(d, list(spans)) for d, spans in golden.items()]
    expect(inputs.compare(golden, rows)["failed"] == 0,
           "the goldens themselves do not compare equal")

    def altered(pred, change):
        doc, spans = next((d, s) for d, s in rows if any(map(pred, s)))
        k = next(i for i, s in enumerate(spans) if pred(s))
        new = list(spans)
        new[k] = change(spans[k])
        return [(d, new if d == doc else s) for d, s in rows]

    media_text = altered(lambda s: s[0] == "media" and s[1],
                         lambda s: (s[0], s[1] + "x", *s[2:]))
    r = inputs.compare(golden, media_text)
    expect((r["failed"], r["structural"]) == (1, 0), r)
    text_text = altered(lambda s: s[0] == "text" and s[1],
                        lambda s: (s[0], s[1] + "x", *s[2:]))
    r = inputs.compare(golden, text_text)
    expect((r["failed"], r["structural"]) == (1, 1), r)
    dropped = [(d, s[1:] if i == 0 else s) for i, (d, s) in enumerate(rows)]
    r = inputs.compare(golden, dropped)
    expect((r["failed"], r["structural"]) == (1, 1), r)
    r = inputs.compare(golden, rows[1:])
    expect((r["failed"], r["missing"]) == (1, 1), r)
    r = inputs.compare(golden, rows + rows[:1])
    expect((r["failed"], r["structural"]) == (0, 1), r)


def check_run(trace: int) -> None:
    want = {m["name"]: m["unit"]
            for m in declared()["per_layer" if trace else "end_to_end"]}
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"),
         "--workload", "docs_mixed", "--seed", "0", "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, check=True, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, timeout=600,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    expect(set(result) == {"correct", "attempted", "failed", "metrics"},
           f"result keys {sorted(result)}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    expect(got == want, sorted(set(want) ^ set(got)))


def main() -> int:
    sys.path.insert(0, ROOT)
    check_declarations()
    check_comparator()
    if "--run" in sys.argv[1:]:
        for trace in (0, 1):
            check_run(trace)
    print("perfbench selfcheck: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
