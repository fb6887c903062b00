"""No program file may hard-code the checkout's absolute path: tools,
tests and the benchmark resolve the repo root from their own location,
so a copy of the repo (an A/B run, a branch checkout) runs its own code.
Spark-free."""

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = ("tools", "tests", "pyspark_distributed_kmodes_spark", "bench.py", "__spark_entry__.py")
# built from parts so that this file does not match itself
LITERAL = os.sep + os.path.join("root", "repo")


def _files():
    for entry in SCANNED:
        path = os.path.join(ROOT, entry)
        if os.path.isfile(path):
            yield path
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            yield from (os.path.join(dirpath, f) for f in filenames)


def test_no_hard_coded_repo_root():
    hits = []
    for path in _files():
        with open(path, "rb") as f:
            for no, line in enumerate(f, 1):
                if LITERAL.encode() in line:
                    hits.append(f"{os.path.relpath(path, ROOT)}:{no}")
    assert not hits, "hard-coded repo root:\n" + "\n".join(hits)
