"""Tests of the benchmark's own parts (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'

- the vectorized genome reference agrees with a brute-force pure-Python
  version of every call on a small seeded input;
- the vectorized and scalar fingerprints agree;
- a call whose fingerprint differs from the reference, or that threw,
  is reported as failed.
"""
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fingerprint as fp  # noqa: E402
import genome  # noqa: E402
import run  # noqa: E402

LOC = ("Chromosome", "Strand")


def _key(r):
    return tuple(r[k] for k in LOC)


def _overlaps(a, b):
    return a["Start"] < b["End"] and a["End"] > b["Start"]


def _merge(rows):
    """(key, start, end) islands per key; touching intervals stay apart."""
    out = []
    for k in sorted({_key(r) for r in rows}):
        cur = None
        for r in sorted((r for r in rows if _key(r) == k),
                        key=lambda r: (r["Start"], r["End"])):
            if cur is not None and r["Start"] < cur[2]:
                cur[2] = max(cur[2], r["End"])
            else:
                cur = [k, r["Start"], r["End"]]
                out.append(cur)
    return [tuple(c) for c in out]


def brute_force(reads, genes):
    res = {}

    def put(call, rows):
        names = list(rows[0].keys())
        res[call] = fp.of_rows(names, [tuple(r[n] for n in names) for r in rows])

    put("countOverlaps", [dict(r, n=sum(_key(g) == _key(r) and _overlaps(g, r)
                                        for g in genes)) for r in reads])
    put("overlap", [r for r in reads
                    if any(_key(g) == _key(r) and _overlaps(g, r) for g in genes)])
    put("joinOverlaps", [dict(r, row_id_b=g["row_id"], Start_b=g["Start"],
                              End_b=g["End"], gene_id=g["gene_id"])
                         for r in reads for g in genes
                         if _key(g) == _key(r) and _overlaps(g, r)])
    near = []
    for r in reads:
        cands = []
        for g in genes:
            if _key(g) != _key(r):
                continue
            d = (0 if _overlaps(g, r) else g["Start"] - r["End"] + 1
                 if g["Start"] >= r["End"] else r["Start"] - g["End"] + 1)
            cands.append((d, g["row_id"], g))
        if cands:
            d, _, g = min(cands, key=lambda c: (c[0], c[1]))
            near.append(dict(r, row_id_b=g["row_id"], Start_b=g["Start"],
                             End_b=g["End"], Distance=d))
    put("nearest", near)
    islands = _merge(genes)
    pieces = []
    for r in reads:
        hit = sorted((s, e) for k, s, e in islands
                     if k == _key(r) and s < r["End"] and e > r["Start"])
        if not hit:
            pieces.append(dict(r))
            continue
        cur = r["Start"]
        for s, e in hit:
            if s > cur:
                pieces.append(dict(r, Start=cur, End=s))
            cur = max(cur, e)
        if cur < r["End"]:
            pieces.append(dict(r, Start=cur, End=r["End"]))
    put("subtract", pieces)
    merged = [{"Chromosome": k[0], "Strand": k[1], "Start": s, "End": e}
              for k, s, e in _merge(reads)]
    put("merge", merged)
    put("bedRoundTrip", [dict(m, Name=".", Score=".") for m in merged])
    clustered = []
    for k in sorted({_key(r) for r in reads}):
        cid, run_max = 0, None
        for r in sorted((r for r in reads if _key(r) == k),
                        key=lambda r: (r["Start"], r["End"])):
            if run_max is None or r["Start"] >= run_max:
                cid += 1
            run_max = r["End"] if run_max is None else max(run_max, r["End"])
            clustered.append(dict(r, Cluster=cid))
    put("cluster", clustered)
    rle = []
    for k in sorted({_key(r) for r in reads}):
        delta = {}
        for r in reads:
            if _key(r) == k:
                delta[r["Start"]] = delta.get(r["Start"], 0) + 1
                delta[r["End"]] = delta.get(r["End"], 0) - 1
        pos = sorted(delta)
        depth = 0
        for a, b in zip(pos, pos[1:]):
            depth += delta[a]
            rle.append({"Chromosome": k[0], "Strand": k[1], "Start": a, "End": b,
                        "Score": depth})
    put("toRle", rle)
    return res


class GenomeReferenceTest(unittest.TestCase):
    def test_matches_brute_force(self):
        for seed in (3, 4):
            with tempfile.TemporaryDirectory() as d:
                # shrunken chromosomes, so every call has work to do
                genome.generate(seed, 600, 150, d, shrink=5000)
                reads = pq.read_table(os.path.join(d, "reads.parquet")).to_pylist()
                genes = pq.read_table(os.path.join(d, "genes.parquet")).to_pylist()
                want = brute_force(reads, genes)
                got = genome.reference(d)
                self.assertEqual(sorted(got), sorted(genome.CALLS))
                for call in genome.CALLS:
                    self.assertEqual(fp.fmt(got[call]), fp.fmt(want[call]),
                                     f"seed {seed} call {call}")

    def test_joins_are_not_trivial(self):
        with tempfile.TemporaryDirectory() as d:
            genome.generate(3, 600, 150, d, shrink=5000)
            got = genome.reference(d)
            self.assertGreater(got["joinOverlaps"][0], 600)   # several genes per read
            self.assertLess(got["merge"][0], 600)              # reads overlap reads
            self.assertNotEqual(got["subtract"][0], 600)


class FingerprintTest(unittest.TestCase):
    def test_vectorized_matches_scalar(self):
        names = ["row_id", "Chromosome", "Name"]
        rows = [(0, "chr1", "a"), (-5, "chrX", ""), (1 << 40, "chr2", "bcd")]
        scalar = fp.of_rows(names, rows)
        with np.errstate(over="ignore"):
            cells = (fp.long_cells("row_id", np.array([r[0] for r in rows]))
                     + fp.string_cells("Chromosome", np.array([0, 1, 2]),
                                       ["chr1", "chrX", "chr2"])
                     + fp.string_array_cells("Name", [r[2] for r in rows]))
        self.assertEqual(fp.np_fingerprint(cells), scalar)

    def test_row_and_column_order_do_not_matter(self):
        a = fp.of_rows(["x", "y"], [(1, "p"), (2, "q")])
        b = fp.of_rows(["y", "x"], [("q", 2), ("p", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, fp.of_rows(["x", "y"], [(1, "q"), (2, "p")]))


class CheckTest(unittest.TestCase):
    def result(self):
        calls = [{"pass": p, "index": i, "name": n, "latency_s": 1.0 + i,
                  "fingerprint": f"{10 + i}:{i:016x}", "error": "",
                  "cache_left_bytes": 0, "pins": 0, "branch": "", "sample_jobs": 0}
                 for p in (0, 1) for i, n in enumerate(["a", "b"])]
        return {"setup_s": 0.5, "layers": {}, "calls": calls,
                "passes": [{"pass": 0, "traced": False, "calls_s": 4.0, "wall_s": 4.1},
                           {"pass": 1, "traced": False, "calls_s": 3.0, "wall_s": 3.1}]}

    def reference(self):
        return {"a": f"10:{0:016x}", "b": f"11:{1:016x}"}

    def test_matching_run_is_correct(self):
        out = run.summarize(self.result(), self.reference(), trace=False)
        self.assertEqual((out["correct"], out["attempted"], out["failed"]), (True, 4, 0))
        self.assertEqual(out["metrics"]["ok_ratio"]["value"], 1.0)
        self.assertEqual(out["metrics"]["warm_pass_s"]["value"], 3.0)

    def test_corrupted_reference_fingerprint_is_a_failed_call(self):
        ref = self.reference()
        ref["b"] = f"11:{2:016x}"   # one bit off
        out = run.summarize(self.result(), ref, trace=False)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 2)   # call b, in both passes
        self.assertEqual(out["metrics"]["ok_ratio"]["value"], 0.5)

    def test_a_call_that_threw_is_a_failed_call(self):
        res = self.result()
        res["calls"][0]["error"] = "RuntimeException: boom"
        out = run.summarize(res, self.reference(), trace=False)
        self.assertEqual(out["failed"], 1)

    def test_hd_median(self):
        self.assertAlmostEqual(run.hd_median([5.0, 5.0, 5.0]), 5.0, places=6)
        self.assertAlmostEqual(run.hd_median([1.0, 2.0, 3.0]), 2.0, places=6)
        # near the middle values even with an outlier among four
        self.assertTrue(2.0 < run.hd_median([1.0, 2.0, 3.0, 10.0]) < 3.5)

    def test_every_declared_metric_is_printed(self):
        e2e = run.summarize(self.result(), self.reference(), trace=False)["metrics"]
        self.assertEqual(set(e2e), set(run.END_TO_END))
        res = self.result()
        res["passes"].append({"pass": 2, "traced": True, "calls_s": 3.3, "wall_s": 3.4})
        layers = run.summarize(res, self.reference(), trace=True)["metrics"]
        self.assertEqual(set(layers), set(run.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
