"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The generator tests take seconds; each smoke run starts a JVM on tiny
inputs and takes well under a minute. Everything is written under
`.bench_build/` of the checkout.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

ROOT = os.path.dirname(HERE)


def _files(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def assertSameTrees(self, a, b, same):
        self.assertEqual(_files(a), _files(b))
        equal = all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                    for f in _files(a))
        self.assertEqual(equal, same)

    def test_etl_inputs_follow_the_seed(self):
        d = {k: os.path.join(self.tmp, k) for k in ("a", "b", "c")}
        for k, seed in (("a", 7), ("b", 7), ("c", 8)):
            gen.etl_inputs(seed, d[k], "small", plays=3_000, small_dims=True)
        self.assertSameTrees(d["a"], d["b"], same=True)
        self.assertSameTrees(d["a"], d["c"], same=False)

    def test_snapshot_ops_follow_the_seed(self):
        d = {k: os.path.join(self.tmp, k) for k in ("a", "b", "c")}
        for k, seed in (("a", 7), ("b", 7), ("c", 8)):
            gen.snapshot_ops(seed, d[k], tiny=True)
        self.assertSameTrees(d["a"], d["b"], same=True)
        self.assertSameTrees(d["a"], d["c"], same=False)

    def test_registry_tables_follow_the_seed(self):
        d = {k: os.path.join(self.tmp, k) for k in ("a", "b", "c")}
        for k, seed in (("a", 7), ("b", 7), ("c", 8)):
            gen.registry_tables(seed, d[k], sf=0.001)
        self.assertSameTrees(d["a"], d["b"], same=True)
        self.assertSameTrees(d["a"], d["c"], same=False)

    def test_etl_inputs_have_the_reference_shape(self):
        got = gen.etl_inputs(3, self.tmp, "small", plays=20_000, small_dims=True)
        import duckdb
        con = duckdb.connect()
        us = f"read_csv('{got['users']}')"
        st = f"read_csv('{got['streams']}')"
        so = f"read_csv('{got['songs']}')"
        us_share = con.execute(
            f"SELECT avg((user_country = 'United States')::INT) FROM {us}").fetchone()[0]
        self.assertGreater(us_share, 0.95)
        orphans_t, orphans_u, days = con.execute(
            f"SELECT count(*) FILTER (WHERE track_id NOT IN (SELECT track_id FROM {so})), "
            f"count(*) FILTER (WHERE user_id NOT IN (SELECT user_id FROM {us})), "
            f"count(DISTINCT CAST(listen_time AS DATE)) FROM {st}").fetchone()
        self.assertGreater(orphans_t, 0)
        self.assertGreater(orphans_u, 0)
        self.assertEqual(days, 1)
        dups = con.execute(
            f"SELECT count(*) FROM (SELECT user_id, track_id, hour(listen_time) "
            f"FROM {st} GROUP BY ALL HAVING count(*) > 1)").fetchone()[0]
        self.assertGreater(dups, 0)


def smoke(workload, seconds=1):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "5", "--seconds", str(seconds), "--tiny"],
                       capture_output=True, text=True, timeout=600, cwd=ROOT)
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    return json.loads(r.stdout.strip().splitlines()[-1]), r.stdout


class SmokeTest(unittest.TestCase):
    """Every workload at tiny scale: correct, nothing failed."""

    def check(self, workload):
        res, out = smoke(workload)
        self.assertTrue(res["correct"], out[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertIn("fail_ratio = 0.000000 ratio", out)
        for m in res["metrics"].values():
            self.assertGreater(m["value"], 0)

    def test_etl_small(self):
        self.check("etl_small")

    def test_etl_bulk(self):
        self.check("etl_bulk")

    def test_snapshot_commits(self):
        self.check("snapshot_commits")

    def test_registry_sample(self):
        self.check("registry_sample")


class KnownDefectTest(unittest.TestCase):
    """The Spotify Tracks Dataset's songs all carry a genre, so the
    workload's do too (perfbench/README.md); a song listed without one puts
    named tracks into the null-genre group.
    `MusicKpis.genreKpis` joins the per-group mode back on (genre, date)
    with a plain equi-join, which never matches a null genre, so that
    group's most_popular_track comes out NULL instead of its mode. The
    DuckDB check catches it; this pins it until the program is fixed (then
    the test passes and the marker must go)."""

    @unittest.expectedFailure
    def test_null_genre_group_keeps_its_mode(self):
        import build
        import checks
        import pyarrow as pa
        import pyarrow.csv as pacsv
        import run
        work = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            props = gen.etl_inputs(5, os.path.join(work, "inputs"), "small",
                                   plays=2_000, small_dims=True)
            songs = pacsv.read_csv(props["songs"])
            genre = songs.column("track_genre").to_pylist()
            genre = [None if i % 20 == 0 else g for i, g in enumerate(genre)]
            songs = songs.set_column(songs.schema.get_field_index("track_genre"),
                                     "track_genre", pa.array(genre, pa.string()))
            pacsv.write_csv(songs, props["songs"])
            props = {k: str(v) for k, v in props.items()}
            with open(os.path.join(work, "inputs.properties"), "w") as fh:
                fh.writelines(f"{k}={v}\n" for k, v in props.items())
            res = run.run_jvm("etl_small", work, 1, 0, build.build())
            problems, _ = checks.check_etl(props, res)
            self.assertEqual(problems, [])
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
