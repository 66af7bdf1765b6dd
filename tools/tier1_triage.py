"""Run the Tier-1 suite and sort its failures by cause.

    python tools/tier1_triage.py [--reference DIR] [--list] [pytest args]

Runs the Tier-1 test command from ROADMAP.md in this process (every
test, nothing skipped or deselected) and splits the failed and errored
tests into two groups.  The first group is the tests that need the PROJ
reference checkout (``--reference``, by default the directory the
library reads its init files from) while it is absent: their failure
report names it, or they looked up a path under it while they ran (a
missing grid makes candidate routing fall back without naming a path).
The second group is everything else, which is what a change broke.
When the reference exists, every failure is in the second group.

Prints both counts and the ids of the second group (``--list`` prints
the first group too), one per line as the suite prints them.  Exit
status: 1 when the second group is not empty, 2 when the suite did not
run, else 0.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from proj_4_spark.sources.initfiles import INIT_SEARCH_PATHS  # noqa: E402

TIER1_ARGS = ["tests/", "-q", "--continue-on-collection-errors",
              "-p", "no:cacheprovider"]


class Triage:
    """pytest plugin: failure reports, and the tests that looked up a
    path under the absent reference checkout."""

    def __init__(self, reference: str):
        self.reference = reference.rstrip(os.sep)
        self.absent = not os.path.exists(self.reference)
        self.current = None
        self.failed: dict = {}
        self.touched: set = set()

    def _touch(self, path) -> None:
        if self.current is None or isinstance(path, int):
            return
        p = os.fsdecode(path)
        if p == self.reference or p.startswith(self.reference + os.sep):
            self.touched.add(self.current)

    def pytest_configure(self, config) -> None:
        if not self.absent:
            return
        real_stat = os.stat

        def stat(path, *args, **kwargs):
            self._touch(path)
            return real_stat(path, *args, **kwargs)

        def audit(event, args):
            if event in ("open", "os.listdir", "os.scandir") and args \
                    and args[0] is not None:
                self._touch(args[0])

        os.stat = stat
        sys.addaudithook(audit)

    def pytest_runtest_logstart(self, nodeid, location) -> None:
        self.current = nodeid

    def pytest_runtest_logfinish(self, nodeid, location) -> None:
        self.current = None

    def pytest_runtest_logreport(self, report) -> None:
        if report.failed:
            self.failed.setdefault(report.nodeid, report.longreprtext)

    def pytest_collectreport(self, report) -> None:
        if report.failed:
            self.failed.setdefault(report.nodeid, report.longreprtext)

    def split(self):
        """(reference-caused ids, other ids)."""
        ref, other = [], []
        for test_id, text in self.failed.items():
            needs_ref = self.absent and (self.reference in text
                                         or test_id in self.touched)
            (ref if needs_ref else other).append(test_id)
        return ref, other


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--reference",
                    default=os.path.dirname(INIT_SEARCH_PATHS[0]),
                    help="reference checkout the failures may need")
    ap.add_argument("--list", action="store_true",
                    help="also list the reference-caused failures")
    args, extra = ap.parse_known_args(argv)

    os.chdir(ROOT)  # the Spark Python workers import the library from here
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_LOCAL_DIRS",
                          os.path.join(tempfile.gettempdir(), "spark-local"))
    triage = Triage(args.reference)
    code = pytest.main(TIER1_ARGS + extra, plugins=[triage])
    if code not in (pytest.ExitCode.OK, pytest.ExitCode.TESTS_FAILED):
        print(f"the suite did not run: pytest exit code {int(code)}")
        return 2

    ref, other = triage.split()
    state = "absent" if triage.absent else "present"
    print(f"failures needing the {state} reference {triage.reference}: "
          f"{len(ref)}")
    if args.list:
        print("\n".join(f"  {t}" for t in ref))
    print(f"other failures: {len(other)}")
    print("\n".join(f"  {t}" for t in other))
    return 1 if other else 0


if __name__ == "__main__":
    sys.exit(main())
