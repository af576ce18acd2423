"""Dump the formatted physical plan of registry seats, for before/after
plan comparisons.

Usage: python scripts/dump_plans.py <tag> <glob> [<glob> ...]

Every registered query whose name matches one of the shell-style
globs (``fnmatch``) is built once against the test corpus
(``NUCLIADB_SPARK_TEST_SF``, the same default as the test suite) and
its ``explain("formatted")`` is written to ``plans/<tag>/<name>.txt``.
Expression ids (``#N``), plan ids (``plan_id=N``), the numeric
suffix of higher-order-function lambda variables (``lambda x_N``,
drawn from a process-wide counter, so it moves with every lambda
column built earlier in the process), RDD ids (``MapPartitionsRDD[N]
at localCheckpoint``, also process-wide), the random ``attr_<hash>``
struct names of the streaming joins, the corpus directory
(``<sf_dir>``) and the random suffix of temp directories
(``tempfile.mkdtemp``, 8 characters) are normalized, so dumps taken
from two checkouts compare with a plain ``diff -r``.
Two seats stay unstable after normalization: the distinct-aggregate
Expand of ``stream_stream_join`` (``click_id``, ``purchase_id``) and
of ``kb_labelsets`` (``rid``, ``label``) lists its columns in either
order, so two dumps of the same commit can differ there.
Seats are built in sorted name order, so session caches are in the
same state for the same glob set. A seat that fails to build is
written as a one-line ``# FAILED`` record and reported on stderr.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_NORMALIZE = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(lambda [A-Za-z]\w*?)_\d+#"), r"\1_N#"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\battr_[0-9a-f]{10}\b"), "attr_<hash>"),
    (
        re.compile(re.escape(tempfile.gettempdir()) + r"/([^/\s\],]*)[a-z0-9_]{8}(?=[/\]\s,])"),
        r"<tmp>/\1XXXXXXXX",
    ),
)


def normalize(plan: str, sf_dir: str) -> str:
    plan = plan.replace(os.path.abspath(sf_dir), "<sf_dir>")
    for pat, repl in _NORMALIZE:
        plan = pat.sub(repl, plan)
    return plan


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    tag, globs = argv[0], argv[1:]

    from nucliadb_spark import registry
    from nucliadb_spark.session import get_session
    from tests.conftest import SF_DIR

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    queries = registry.queries()
    names = sorted(
        n for n in queries if any(fnmatch.fnmatchcase(n, g) for g in globs)
    )
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session("dump_plans", shuffle_partitions=8)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    failed = 0
    for name in names:
        try:
            df = queries[name](spark, SF_DIR)
            text = normalize(df._jdf.queryExecution().explainString(mode), SF_DIR)
        except Exception as exc:  # noqa: BLE001 - record and go on
            failed += 1
            text = f"# FAILED: {type(exc).__name__}\n"
            print(f"{name}: {type(exc).__name__}: {exc}", file=sys.stderr)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fo:
            fo.write(text)
    print(f"{len(names)} seats -> {os.path.relpath(out_dir, ROOT)} ({failed} failed)")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
