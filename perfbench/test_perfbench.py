"""The benchmark's own tests: python3 -m unittest perfbench/test_perfbench.py
(from the checkout root). Builds the program, then runs the JVM self-test
(`perfbench.SelfTest`)."""
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


class PerfbenchTest(unittest.TestCase):
    def test_stub_schedule_and_ledger(self):
        classes = build.build()
        work = os.path.join(build.BUILD, "work", f"selftest-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            cmd = build.java_command(classes, "perfbench.SelfTest", [work])
            cmd[1:1] = ["-Dspark.ui.enabled=false", f"-Dspark.local.dir={work}/local",
                        f"-Dspark.sql.warehouse.dir={work}/warehouse",
                        f"-Djava.io.tmpdir={work}"]
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=300, cwd=work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertIn("SELFTEST ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
