#!/usr/bin/env python3
"""Self-tests of the benchmark's generator and oracle (no engine needed).

    python3 perfbench/selftest.py
"""
import datetime as dt
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

DAYS = [dt.date(2018, 12, 30), dt.date(2019, 1, 2), dt.date(2020, 2, 29)]


def tree(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = p
    return out


def write_expected(root, tables, partitions):
    """Writes expected rows as parquet the way the pipeline lays them out."""
    for name, rows in tables.items():
        cols = oracle.COLUMNS[name]
        data = {c: [r[i] for r in rows] for i, c in enumerate(cols)}
        arrays = {c: pa.array(v, pa.timestamp("s") if c == "start_time" else None) for c, v in data.items()}
        table = pa.table(arrays)
        path = os.path.join(root, "%s_table.parquet" % name)
        if name in partitions:
            pq.write_to_dataset(table, path, partition_cols=[partitions[name]])
        else:
            os.makedirs(path)
            pq.write_table(table, os.path.join(path, "part-0.parquet"))


class Base(unittest.TestCase):
    def setUp(self):
        base = os.path.join(os.path.dirname(HERE), ".bench_build", "selftest")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def path(self, *parts):
        return os.path.join(self.tmp, *parts)


class GeneratorTest(Base):
    def test_same_seed_gives_identical_bytes(self):
        for seed, name in [(7, "a"), (7, "b"), (8, "c")]:
            gen.full_dataset(self.path(name, "full") + "/", seed, 30, DAYS, 200)
            gen.incremental_dataset(self.path(name, "inc"), seed, 6, 150, DAYS[0], 2)
        a, b, c = tree(self.path("a")), tree(self.path("b")), tree(self.path("c"))
        self.assertEqual(sorted(a), sorted(b))
        for rel in a:
            self.assertTrue(filecmp.cmp(a[rel], b[rel], shallow=False), rel)
        # Another seed changes values, never the layout.
        self.assertEqual(sorted(a), sorted(c))
        self.assertTrue(any(not filecmp.cmp(a[r], c[r], shallow=False) for r in a))

    def test_sizes_do_not_depend_on_the_seed(self):
        for seed in (1, 2):
            songs, events = gen.full_dataset(self.path(str(seed)) + "/", seed, 30, DAYS, 200)
            self.assertEqual((len(songs), len(events)), (30, 600))

    def test_corner_cases_present(self):
        songs, events = gen.full_dataset(self.path("f") + "/", 3, 60, DAYS, 300)
        plays = oracle.next_song(events)
        self.assertTrue(any(e["page"] != "NextSong" for e in events))
        self.assertTrue(any(e["userId"] == "" for e in plays))
        self.assertTrue(any(e["userId"] is None for e in plays))
        latest = {}
        for e in plays:
            latest.setdefault(e["userId"], []).append(e["ts"])
        self.assertTrue(any(v.count(max(v)) > 1 for v in latest.values()), "tied max ts")
        levels = {}
        for e in plays:
            levels.setdefault(e["userId"], set()).add(e["level"])
        self.assertTrue(any(len(v) > 1 for u, v in levels.items() if u), "level change")
        titles = {(s["title"], s["artist_name"], s["duration"]) for s in songs}
        self.assertTrue(any((e["song"], e["artist"], e["length"]) not in titles for e in plays))
        self.assertTrue(any((e["song"], e["artist"], e["length"]) in titles for e in plays))
        ids = [s["artist_id"] for s in songs]
        self.assertTrue(len(set(ids)) < len(ids), "duplicate artists")
        starts = [int(e["ts"] // 1000) for e in plays]
        self.assertTrue(len(set(starts)) < len(starts), "equal start_time")
        counts = {}
        for e in plays:
            counts[e["userId"]] = counts.get(e["userId"], 0) + 1
        top = sorted(counts.values(), reverse=True)
        self.assertGreater(top[0], 5 * top[len(top) // 2], "Zipf skew")

    def test_truncated_files_are_cut_mid_line(self):
        files, truncated = gen.incremental_dataset(self.path("i"), 5, 8, 100, DAYS[0], 2)
        self.assertEqual(len(truncated), 2)
        self.assertNotIn(files[-1][0], truncated)
        for name, _ in files:
            with open(self.path("i", name)) as f:
                text = f.read()
            self.assertEqual(not text.endswith("}\n"), name in truncated)


class OracleTest(Base):
    def setUp(self):
        super().setUp()
        self.songs, self.events = gen.full_dataset(self.path("in") + "/", 11, 40, DAYS, 250)
        self.tables = oracle.expected_full(self.songs, self.events)
        self.want = oracle.digests(self.tables)
        self.out = self.path("out")
        write_expected(self.out, self.tables, {"songs": "year", "time": "year", "songplays": "year"})

    def test_expected_layout_passes(self):
        self.assertEqual(oracle.compare_tables(self.out, self.want), [])
        self.assertGreater(len({r[-2] for r in self.tables["songplays"]}), 1, "several years")

    def test_deleted_partition_fails(self):
        parts = sorted(os.listdir(os.path.join(self.out, "songplays_table.parquet")))
        shutil.rmtree(os.path.join(self.out, "songplays_table.parquet", parts[0]))
        self.assertEqual(len(oracle.compare_tables(self.out, self.want)), 1)

    def test_dropped_row_fails(self):
        users = dict(self.tables, users=self.tables["users"][1:])
        shutil.rmtree(self.out)
        write_expected(self.out, users, {"songs": "year", "time": "year", "songplays": "year"})
        problems = oracle.compare_tables(self.out, self.want)
        self.assertEqual(len(problems), 1)
        self.assertIn("users", problems[0])

    def test_changed_value_fails(self):
        rows = self.tables["artists"]
        artists = dict(self.tables, artists=[(rows[0][0], rows[0][1] + "!") + rows[0][2:]] + rows[1:])
        shutil.rmtree(self.out)
        write_expected(self.out, artists, {"songs": "year", "time": "year", "songplays": "year"})
        self.assertIn("digest", oracle.compare_tables(self.out, self.want)[0])

    def test_incremental_checks_quarantine_and_final_tables(self):
        files, truncated = gen.incremental_dataset(self.path("raw"), 4, 6, 120, DAYS[0], 1)
        tables = oracle.expected_incremental(files, truncated)
        want = oracle.digests(tables)
        bucket = self.path("bucket")
        write_expected(os.path.join(bucket, "transformed"), tables, {"time": "month"})
        os.makedirs(os.path.join(bucket, "failed"))
        for name in truncated:
            open(os.path.join(bucket, "failed", name), "w").close()
        returned = {name: name not in truncated for name, _ in files}
        self.assertEqual(oracle.check_incremental(bucket, want, truncated, returned), [])
        flipped = dict(returned, **{files[-1][0]: False})
        self.assertEqual(len(oracle.check_incremental(bucket, want, truncated, flipped)), 1)
        os.remove(os.path.join(bucket, "failed", sorted(truncated)[0]))
        self.assertEqual(len(oracle.check_incremental(bucket, want, truncated, returned)), 1)


if __name__ == "__main__":
    unittest.main()
