"""Tests that need the built JVM side (about two minutes, most of it the
one-off build and two small traced laps per workload).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchlib  # noqa: E402
import build  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


def jvm(args, cwd):
    build.build()
    cmd = run.jvm_command(build.classpath(), "2g", cwd, args)
    proc = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(proc.stderr[-4000:])
    return proc.stdout


class JvmTest(unittest.TestCase):
    def test_every_registered_query_maps_to_one_layer(self):
        with tempfile.TemporaryDirectory() as d:
            names = jvm(["--mode", "list-queries"], d).split()
        self.assertEqual(len(names), 102)
        prefixes = [n.split("_", 1)[0] for n in names]
        self.assertEqual(len(prefixes), len(set(prefixes)))
        self.assertEqual(set(prefixes), set(benchlib.QUERY_PREFIX_LAYER))
        for n in names:
            self.assertIn(benchlib.query_layer(n), benchlib.LAYERS)
        for q in run.QUERY_SUBSET:
            self.assertIn(q, names)

    def test_selftest(self):
        """Seed-0 feed equals TickReplay.syntheticTicks; traced per-layer job
        counts and output digests repeat exactly across two traced laps."""
        with tempfile.TemporaryDirectory() as d:
            gen_tables.write_ticks(os.path.join(d, "seed0"), 0, scenarios=3,
                                   per_scenario=500)
            gen_tables.write_ticks(os.path.join(d, "ticks"), 0, per_scenario=500)
            gen_tables.write_events(os.path.join(d, "events"), 0)
            out = jvm(["--mode", "selftest", "--cores", str(run.nproc()),
                       "--seed0-feed", os.path.join(d, "seed0"),
                       "--ticks", os.path.join(d, "ticks"),
                       "--events", os.path.join(d, "events"), "--work", d], d)
        checks = [json.loads(l) for l in out.splitlines() if l.startswith("{")]
        self.assertEqual(len(checks), 7, out)
        for c in checks:
            self.assertTrue(c["ok"], c)


if __name__ == "__main__":
    unittest.main()
