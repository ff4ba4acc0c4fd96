"""The workloads: how one operation runs, and how its output is
checked against a reference the program did not compute.

Each workload drives the program only through its public entry points
(``Project`` / ``Pipeline``) and reads the program's output back from
disk with pyarrow. References come from DuckDB (a restatement of the
YAML, or the registry's own DuckDB oracles) or from what the generator
planted. Outputs and references are compared with
``tools/check_oracle.py``'s type-tagged, order-insensitive
``frame_signature`` after dropping the program's volatile (timestamp)
columns.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import shutil
from typing import Any, Optional

import duckdb
import pyarrow.parquet as pq

PROJECTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "projects")


@functools.cache
def check_oracle():
    """The repository's ``tools/check_oracle.py`` (not a package), loaded
    from the checkout root."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join("tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def du(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's .crc / _SUCCESS
    markers are counted in bytes but not as data files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += not (n.startswith(".") or n.startswith("_"))
    return total, files


def read_output(path: str) -> tuple[list[str], list[tuple]]:
    from drune_spark.config.models import VOLATILE_COLUMNS

    table = pq.read_table(path)
    cols = [c for c in table.column_names if c not in VOLATILE_COLUMNS]
    table = table.select(cols)
    return cols, [tuple(d[c] for c in cols) for d in table.to_pylist()]


def compare(name: str, got: tuple[list[str], list[tuple]],
            want: tuple[list[str], list[tuple]]) -> Optional[str]:
    """None when equal, else a one-line mismatch description."""
    g = check_oracle().frame_signature(*got)
    w = check_oracle().frame_signature(*want)
    if g == w:
        return None
    return (f"{name}: output(cols={g[0]}, rows={g[1]}, h={g[2][:12]}) != "
            f"reference(cols={w[0]}, rows={w[1]}, h={w[2][:12]})")


def _perturb(value: Any) -> Any:
    return value + 1 if isinstance(value, int) else f"{value}x"


def corruptions(out: tuple[list[str], list[tuple]]) -> dict[str, tuple]:
    """The output with one row dropped, and with one value changed."""
    cols, rows = out
    row = list(rows[0])
    i = next(i for i, v in enumerate(row) if v is not None)
    row[i] = _perturb(row[i])
    return {"row_dropped": (cols, rows[1:]),
            "value_changed": (cols, [tuple(row)] + rows[1:])}


class Workload:
    """One operation = ``op()``. ``outputs()`` reads back what it left
    on disk, ``references()`` says what that should be. Paths are
    relative to the checkout root, as in the project YAML."""

    name = ""
    pipeline_name = ""

    def __init__(self, work: str, props: dict, truth: dict) -> None:
        self.work = work
        self.props = props
        self.truth = truth
        self.out = os.path.join(work, "out")

    def load(self, spark) -> None:
        from drune_spark.pipeline import Pipeline, Project

        self.spark = spark
        self.project = Project(os.path.join(PROJECTS, self.name), spark=spark)
        self.model = self.project.load_pipeline_model(self.pipeline_name)
        self.pipeline = Pipeline(
            spark, self.model,
            failed_records_path=self.project.model.logging.failed_records_path)

    # Input size of one operation, for rows_per_s and the write ratio.
    def op_rows(self) -> int:
        return self.props["rows"]

    def op_bytes(self) -> int:
        return self.props["bytes"]

    def before_op(self) -> None:
        """Untimed preparation of the next operation."""

    def op(self) -> None:
        self.pipeline.reset()
        self.pipeline.execute()

    def reference(self) -> None:
        """Compute the expected outputs (untimed, once per run)."""

    def outputs(self) -> dict[str, tuple[list[str], list[tuple]]]:
        raise NotImplementedError

    def references(self) -> dict[str, tuple[list[str], list[tuple]]]:
        raise NotImplementedError

    def written(self) -> tuple[int, int]:
        """(bytes, data files) of what the last operation wrote."""
        raise NotImplementedError

    def state_bytes(self) -> int:
        """Everything the sinks keep on disk, previous versions included."""
        return du(self.out)[0]


def _current(target_dir: str) -> tuple[int, int]:
    """Size of a safe-overwritten target without its kept previous
    version (``<path>.__prev__``)."""
    total = files = 0
    for entry in os.listdir(target_dir):
        if not entry.endswith(".__prev__"):
            b, f = du(os.path.join(target_dir, entry))
            total, files = total + b, files + f
    return total, files


class EtlBatch(Workload):
    """Silver load: CSV + parquet dimension through schema, constraints,
    a join step and a sql step into an overwrite parquet target."""

    name = "etl_batch"
    pipeline_name = "orders_silver"

    def before_op(self) -> None:
        shutil.rmtree(os.path.join(self.out, "failed_records"), ignore_errors=True)

    def reference(self) -> None:
        csv_path = os.path.join(self.work, "orders.csv")
        dim_path = os.path.join(self.work, "customers.parquet")
        con = duckdb.connect()
        # The YAML restated: try_cast per column, upper(trim()) status,
        # set_null on total, drop on order_id / quantity / status,
        # warn on priority (kept), left join, sql projection, target
        # schema and sha256 hash_key.
        self.expected = check_oracle().fetch_duckdb_arrow(con, f"""
            WITH s AS (
                SELECT TRY_CAST(order_id AS BIGINT) AS order_id,
                       TRY_CAST(cust_key AS BIGINT) AS customer_key,
                       upper(trim(status)) AS status,
                       TRY_CAST(total AS DECIMAL(12,2)) AS total,
                       TRY_CAST(priority AS BIGINT) AS priority,
                       TRY_CAST(quantity AS BIGINT) AS quantity,
                       CAST(order_date AS DATE) AS order_date,
                       substr(order_date, 1, 7) AS order_month
                FROM read_csv('{csv_path}', header = true, all_varchar = true)
            ),
            passed AS (
                SELECT order_id, customer_key, status,
                       CASE WHEN total BETWEEN 0 AND 100000 THEN total END AS total,
                       priority, quantity, order_date, order_month,
                       CAST(CASE WHEN quantity >= 40 THEN 1 ELSE 0 END AS BIGINT)
                           AS is_bulk
                FROM s
                WHERE order_id IS NOT NULL AND quantity IS NOT NULL
                  AND status IN ('OPEN', 'FILLED', 'PENDING')
            )
            SELECT p.order_id, p.customer_key,
                   coalesce(c.segment, 'UNKNOWN') AS segment,
                   p.status, p.total, p.priority, p.quantity,
                   CAST(p.total * p.quantity AS DECIMAL(18,2)) AS line_value,
                   p.is_bulk, p.order_date, p.order_month,
                   sha256(CAST(p.order_id AS VARCHAR)) AS hash_key
            FROM passed p
            LEFT JOIN read_parquet('{dim_path}') c
              ON c.customer_key = p.customer_key
        """)
        con.close()

    def outputs(self) -> dict[str, tuple]:
        failed = pq.read_table(os.path.join(self.out, "failed_records"),
                               columns=["failed_column"]).column(0).to_pylist()
        counts: dict[str, int] = {}
        for col in failed:
            counts[col] = counts.get(col, 0) + 1
        return {
            "orders_silver": read_output(
                os.path.join(self.out, "orders_silver", "orders_silver.parquet")),
            "failure_log": (["failed_column", "n"], sorted(counts.items())),
        }

    def references(self) -> dict[str, tuple]:
        return {
            "orders_silver": self.expected,
            "failure_log": (["failed_column", "n"],
                            sorted(self.truth["planted"].items())),
        }

    def written(self) -> tuple[int, int]:
        b, f = _current(os.path.join(self.out, "orders_silver"))
        lb, lf = du(os.path.join(self.out, "failed_records"))
        return b + lb, f + lf


def _registry_oracles() -> dict[str, str]:
    import __spark_entry__

    return __spark_entry__.oracle_sql()


class CorpusPrep(Workload):
    """The examples/project corpus chain (redact -> quality_filter ->
    dedup -> chunk) as one Pipeline.execute()."""

    name = "corpus_prep"
    pipeline_name = "corpus"

    def reference(self) -> None:
        """The registry's redact_pii, rep_quality_filter and
        corpus_pipeline oracles, composed through a ``documents`` view
        that each stage re-points at the previous stage's result."""
        oracles = _registry_oracles()
        # redact_pii builds its input (`c`) from doc_id; keep its
        # redaction SELECT and feed it the generated text instead.
        redact = oracles["redact_pii"]
        tail = redact[redact.index("FROM documents"):]
        tail = tail[tail.index(")") + 1:].strip()
        if not tail.startswith("SELECT doc_id") or not tail.endswith("FROM c"):
            raise RuntimeError("redact_pii oracle changed shape")
        docs = os.path.join(self.work, "documents.parquet")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT doc_id, text FROM read_parquet('{docs}')")
        con.execute("CREATE TABLE scrubbed AS SELECT doc_id, redacted AS text FROM ("
                    "WITH c AS (SELECT doc_id, text AS contact FROM documents) "
                    f"{tail})")
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT doc_id, text FROM scrubbed")
        con.execute("CREATE TABLE gated AS SELECT s.doc_id, s.text FROM scrubbed s "
                    f"JOIN ({oracles['rep_quality_filter']}) q USING (doc_id) WHERE q.keep")
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT doc_id, text FROM gated")
        self.expected = check_oracle().fetch_duckdb_arrow(con, oracles["corpus_pipeline"])
        con.close()

    def outputs(self) -> dict[str, tuple]:
        return {"corpus_chunks": read_output(
            os.path.join(self.out, "corpus_chunks", "corpus_chunks.parquet"))}

    def references(self) -> dict[str, tuple]:
        return {"corpus_chunks": self.expected}

    def written(self) -> tuple[int, int]:
        return _current(os.path.join(self.out, "corpus_chunks"))


WORKLOADS = {w.name: w for w in (EtlBatch, CorpusPrep)}


def check(wl: Workload) -> list[str]:
    """Mismatches between the last operation's outputs and the
    references, by output name; empty when all match."""
    got, want = wl.outputs(), wl.references()
    return [m for name in want
            if (m := compare(name, got[name], want[name])) is not None]


def self_test(wl: Workload) -> list[str]:
    """The check must reject the output with one row dropped and with one
    value changed. Returns the corruptions it failed to reject."""
    got, want = wl.outputs(), wl.references()
    missed = []
    for name, out in got.items():
        for kind, bad in corruptions(out).items():
            if compare(name, bad, want[name]) is None:
                missed.append(f"{name}: check accepted {kind}")
    return missed
