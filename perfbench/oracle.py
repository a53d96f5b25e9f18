"""DuckDB output check for the registry workload.

    python3 oracle.py TABLES_DIR OUT_DIR

OUT_DIR holds one parquet result per query and `oracle_sql.json`. The
comparison is the repository's own oracle gate, `scripts/check_oracle.py`:
columns sorted by name, rows sorted, floats formatted with %.17g, and
integer/float/date column kinds compared. Prints one line per rejected
query, `<query>TAB<reason>`; a non-zero exit means the check itself could
not run.
"""
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts"))
import check_oracle  # noqa: E402


def main(tables, out):
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        check_oracle.main(tables, out)
    for line in report.getvalue().splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[len("FAIL "):].partition(": ")
            print(f"{name}\t{why}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
