"""bench_table's mover rule, replayed on the graph-family job counts of
plans/r19/sprobe_graph_{before,afterA,afterB}.log (the rep3 lines).

Run from the repo root: python3 -m unittest tools/test_bench_table.py
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench_table  # noqa: E402

# name: (wall s, jobs, stages, tasks, Σtask s), from the rep3 [sprobe] lines.
BEFORE = {
    "x73_pagerank": (3.41, 40, 104, 46, 1.56),
    "x77_pagerank_conserving": (2.56, 48, 90, 53, 1.32),
    "x82_hits": (4.60, 57, 103, 224, 26.19),
    "x99_label_propagation": (3.69, 40, 76, 271, 32.23),
    "x110_kcore": (3.40, 42, 91, 48, 2.32),
    "x123_community_modularity": (3.49, 57, 107, 64, 2.51),
    "x137_bfs_distances": (2.31, 29, 61, 42, 1.20),
}
AFTER_A = {
    "x99_label_propagation": (3.48, 43, 85, 289, 14.16),
    "x82_hits": (3.29, 61, 115, 258, 11.27),
    "x73_pagerank": (3.61, 31, 74, 37, 1.41),
    "x123_community_modularity": (3.24, 56, 106, 63, 2.08),
}
AFTER_B = {
    "x99_label_propagation": (3.42, 31, 62, 277, 15.23),
    "x82_hits": (3.56, 41, 79, 238, 16.31),
    "x110_kcore": (3.05, 29, 64, 35, 1.94),
    "x123_community_modularity": (3.21, 43, 78, 50, 2.21),
    "x137_bfs_distances": (2.22, 21, 45, 32, 1.01),
    "x77_pagerank_conserving": (2.68, 35, 59, 40, 1.36),
    "x136_pca_top_component": (1.22, 23, 37, 58, 1.05),
}


def bench(rows: dict, reps: int = 2) -> dict:
    """A bench.json of `rows`, each rerun `reps` times with equal counts."""
    walls = {n: r[0] for n, r in rows.items()}
    return {
        "value": sum(walls.values()), "median_total": sum(walls.values()),
        "queries": walls, "queries_median": dict(walls), "failed": [],
        "sf": "/data/sf0.1", "cores": 4,
        "structure": {n: [list(r[1:])] * reps for n, r in rows.items()},
    }


def committed(b: dict) -> dict:
    """Render `b` as BASELINE_BENCH.md and parse it back."""
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        bench_table.render_table(b)
    with tempfile.NamedTemporaryFile("w", suffix=".md", delete=False) as f:
        f.write(out.getvalue())
    try:
        return bench_table.parse_baseline(f.name)
    finally:
        os.unlink(f.name)


def listed(b: dict, base: dict, kind: str) -> set:
    return {n for n, k, _ in bench_table.movers(b, base) if k == kind}


class MoverRule(unittest.TestCase):
    def test_same_code_lists_nothing(self):
        self.assertEqual(bench_table.movers(bench(BEFORE), committed(bench(BEFORE))), [])

    def test_after_a_flags_the_job_count_regressions(self):
        changed = listed(bench(AFTER_A), committed(bench(BEFORE)), "changed")
        self.assertLessEqual({"x82_hits", "x99_label_propagation"}, changed)
        detail = {n: d for n, _, d in
                  bench_table.movers(bench(AFTER_A), committed(bench(BEFORE)))}
        self.assertEqual(detail["x82_hits"], "57 / 103 / 224 → 61 / 115 / 258")
        self.assertEqual(detail["x99_label_propagation"], "40 / 76 / 271 → 43 / 85 / 289")

    def test_after_b_flags_every_rerun_graph_query(self):
        changed = listed(bench(AFTER_B), committed(bench(BEFORE)), "changed")
        self.assertEqual(changed, {
            "x77_pagerank_conserving", "x82_hits", "x99_label_propagation",
            "x110_kcore", "x123_community_modularity", "x137_bfs_distances"})

    def test_structure_change_is_listed_whatever_the_wall_clock(self):
        # afterA's x82 ran faster (4.60 -> 3.29 s) and still changed.
        self.assertIn("x82_hits", listed(bench(AFTER_A), committed(bench(BEFORE)), "changed"))

    def test_slower_same_structure_goes_to_a_timing_probe(self):
        slow = dict(BEFORE)
        w, *counts = slow["x110_kcore"]
        slow["x110_kcore"] = (2.5 * w, *counts)
        self.assertEqual(bench_table.movers(bench(slow), committed(bench(BEFORE))),
                         [("x110_kcore", "slower", "3.400 → 8.500 s")])

    def test_disagreeing_reruns_are_unstable_never_changed(self):
        b = bench(BEFORE)
        b["structure"]["x110_kcore"] = [[42, 91, 48, 2.3], [43, 93, 49, 2.4], [42, 91, 48, 2.3]]
        b["structure"]["x123_community_modularity"] = [
            [59, 107, 64, 2.5], [58, 107, 64, 2.5], [57, 107, 64, 2.5]]
        rows = bench_table.movers(b, committed(bench(BEFORE)))
        self.assertEqual({(n, k) for n, k, _ in rows},
                         {("x110_kcore", "unstable"),
                          ("x123_community_modularity", "unstable")})

    def test_an_unstable_committed_row_keeps_its_range(self):
        b = bench(BEFORE)
        b["structure"]["x110_kcore"] = [[42, 91, 48, 2.3], [43, 91, 48, 2.3]]
        base = committed(b)
        self.assertEqual(base["x110_kcore"][1], ((42, 43), (91, 91), (48, 48)))
        inside = bench(BEFORE)
        inside["structure"]["x110_kcore"] = [[43, 91, 48, 2.3]] * 2
        self.assertEqual(bench_table.movers(inside, base), [])
        outside = bench(BEFORE)
        outside["structure"]["x110_kcore"] = [[44, 91, 48, 2.3]] * 2
        self.assertEqual(listed(outside, base, "changed"), {"x110_kcore"})

    def test_regime_is_shown_and_leaves_the_counts_alone(self):
        b = bench(BEFORE)
        b["regime"] = {n: "small" for n in BEFORE}
        self.assertEqual(committed(b), committed(bench(BEFORE)))
        with tempfile.NamedTemporaryFile("w", suffix=".md", delete=False) as f:
            with contextlib.redirect_stdout(f):
                bench_table.render_table(b)
        after = bench(AFTER_A)
        after["regime"] = {"x82_hits": "small"}
        out = io.StringIO()
        try:
            with contextlib.redirect_stdout(out):
                bench_table.movers_report(after, f.name)
        finally:
            os.unlink(f.name)
        self.assertIn("| x82_hits | 57 / 103 / 224 → 61 / 115 / 258 | small |", out.getvalue())
        self.assertIn("| x99_label_propagation | 40 / 76 / 271 → 43 / 85 / 289 | — |",
                      out.getvalue())

if __name__ == "__main__":
    unittest.main()
