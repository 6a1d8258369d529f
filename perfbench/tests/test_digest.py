"""The order-independent content hash (perfbench.Main.digest), checked in a
local Spark session by perfbench.DigestCheck. Compiles the benchmark on
first use, like run.py does."""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import run  # noqa: E402


class DigestTest(unittest.TestCase):
    def test_digest_properties(self):
        root = os.path.dirname(os.path.dirname(HERE))
        try:
            jars = run.spark_jars()
            classes = run.build(root, os.path.join(root, ".bench_build"), jars)
        except run.BenchError as e:
            self.skipTest(str(e))
        opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        with tempfile.TemporaryDirectory(dir=os.path.join(root, ".bench_build")) as tmp:
            r = subprocess.run(
                ["java"] + opens + ["-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp",
                                    classes + os.pathsep + jars, "perfbench.DigestCheck", tmp],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertIn("digest properties hold", r.stdout)


if __name__ == "__main__":
    unittest.main()
