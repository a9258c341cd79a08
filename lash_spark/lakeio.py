"""Table catalog + lineage/metrics + checkpoint/resume (O6).

One backend, ``ParquetCatalog``: directory-of-parquet tables plus a JSON
sidecar for table properties, with Iceberg-shaped semantics (dynamic
partition overwrite, run params as table properties). Iceberg is the
production target, but the package bundles no Iceberg runtime and no Iceberg
backend exists in the code; the catalog's methods (read, write, append,
overwrite_partitions, properties) are the seam it would sit behind.

Schema of record: the sidecar holds each table's schema as a DDL string
(property ``schema``), the way an Iceberg table carries its own. ``write``,
``replace`` and the first ``append`` stamp it; ``drop`` and
``overwrite_partitions`` clear it; ``read`` hands it to
``spark.read.schema`` and so plans without the footer-inference job a bare
parquet read runs. A table without a stamp (older catalogs, partitioned
waves, a lost sidecar) is inferred once on read and stamped then.

Driver round-trips: ``run_stage`` and ``append`` take their row counts
from an ``Observation`` on the write instead of re-reading and counting
the table, and metrics and manifest rows are written by pyarrow on the
driver as one small parquet file each, with no Spark job.

Resume semantics (north_rule): every stage records a completion marker
keyed by params_hash; a rerun with the same params skips completed stages,
and the signature stage additionally supports row-level delta resume via
left_anti on already-signed ids.
"""

from __future__ import annotations

import json
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

METRICS_TABLE = "stage_metrics"
_METRICS_DDL = (
    "stage string, params_hash string, wall_ms double, input_rows bigint, "
    "output_rows bigint, status string, ts double, extra string"
)
_MANIFEST_DDL = "stage string, params_hash string, part string, output_rows bigint, ts double"
# the sidecar property holding a table's stamped DDL schema
_SCHEMA = "schema"


class ParquetCatalog:
    """Directory-backed table catalog with Iceberg-shaped semantics."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # ---- tables
    def path(self, table: str) -> str:
        return str(self.root / table)

    def exists(self, table: str) -> bool:
        # recursive glob: partitioned tables keep their files under
        # part=<v>/ dirs, and the dynamic-overwrite committer writes no
        # _SUCCESS marker at the table root
        p = self.root / table
        return p.exists() and (
            any(p.glob("**/*.parquet")) or any(p.glob("**/_SUCCESS"))
        )

    def read(self, table: str) -> DataFrame:
        ddl = self.properties(table).get(_SCHEMA)
        if ddl is not None:
            return self.spark.read.schema(ddl).parquet(self.path(table))
        df = self.spark.read.parquet(self.path(table))
        self._stamp(table, df.schema.toDDL())
        return df

    def _stamp(self, table: str, ddl: str | None):
        """Record (or with None, clear) the table's schema of record."""
        merged = self.properties(table)
        if merged.get(_SCHEMA) == ddl:
            return
        if ddl is None:
            merged.pop(_SCHEMA)
        else:
            merged[_SCHEMA] = ddl
        self._write_properties(table, merged)

    def write(self, df: DataFrame, table: str):
        # cleared first: a crash after the data write must not leave the
        # previous table's schema stamped on the new files
        self._stamp(table, None)
        df.write.mode("overwrite").parquet(self.path(table))
        self._stamp(table, df.schema.toDDL())

    def append(self, df: DataFrame, table: str) -> int:
        """Append ``df``'s rows and return how many, observed on the write
        (no extra job). An empty append to an existing table leaves no
        file: Spark writes one schema-only file (and its ``.crc``) even for
        zero rows, which every later scan would list and open, and the
        stamped schema already carries what it holds."""
        d = self.root / table
        first = not self.exists(table)
        before = set() if first else set(d.glob("*.parquet"))
        rows = Observation()
        df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("append").parquet(str(d))
        n = rows.get["n"]
        if first:
            self._stamp(table, df.schema.toDDL())
        elif n == 0:
            for f in set(d.glob("*.parquet")) - before:
                f.unlink()
                f.with_name(f".{f.name}.crc").unlink(missing_ok=True)
        return n

    def _append_rows(self, table: str, ddl: str, rows: "list[dict]"):
        """Append small driver-side rows as one parquet file written by
        pyarrow (no Spark job). Columns are taken from each row by name,
        so a row's key order cannot shift values between columns; a
        missing key is NULL. The file lands under a dot-name first, which
        Spark's file listing skips, and is renamed into the table."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        arrow = {"string": pa.string(), "double": pa.float64(), "bigint": pa.int64()}
        schema = pa.schema([(n, arrow[t]) for n, t in (f.split() for f in ddl.split(", "))])
        first = not self.exists(table)
        d = self.root / table
        d.mkdir(parents=True, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.zstd.parquet"
        tmp = d / f".{name}"
        # files of a row or a few: dictionary pages, min/max statistics and
        # the embedded Arrow schema would more than double each one
        pq.write_table(
            pa.Table.from_pylist(rows, schema=schema), tmp, compression="zstd",
            store_schema=False, use_dictionary=False, write_statistics=False,
        )
        tmp.rename(d / name)
        if first:
            self._stamp(table, ddl)

    def overwrite_partitions(self, df: DataFrame, table: str, partition_by):
        """Dynamic partition overwrite (the Iceberg
        ``writeTo().overwritePartitions()`` analog): only the partitions
        present in ``df`` are replaced; everything else is untouched. This
        is what makes a partition-wave write idempotent under replay."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self.path(table))
        )
        # the partition columns come back from the directory names: the
        # next read infers the whole table once and stamps it
        self._stamp(table, None)

    def drop(self, table: str):
        import shutil

        p = self.root / table
        if p.exists():
            shutil.rmtree(p)
        self._stamp(table, None)

    def replace(self, df: DataFrame, table: str):
        """Full-table replace that is safe when ``df``'s plan reads from
        ``table`` itself (MERGE-style upsert emulation): stage the result
        to a sibling dir, then swap directories. The Iceberg seam is a
        real ``MERGE INTO`` / row-level delete; this parquet fallback pays
        one columnar rewrite of the surviving rows, and only on runs that
        actually detected mutated rows. Properties/markers are sidecar
        files, untouched by the swap except for the schema stamp, which is
        cleared before it and set to ``df``'s schema after it.

        Swap order (ADVICE r5): the old table is renamed ASIDE first and
        deleted only after the staged dir took its place, so the
        table-missing crash window shrinks from the whole drop+rename span
        to the instant between two renames; a crash then leaves the old
        data recoverable under ``__old``. Leftover ``__staged``/``__old``
        dirs from a previously crashed replace are cleaned up on entry
        (the staged write itself is mode=overwrite)."""
        staged = f"{table}__staged"
        old = f"{table}__old"
        self.drop(old)  # leftover from a crashed replace
        df.write.mode("overwrite").parquet(self.path(staged))
        self._stamp(table, None)
        p_table = self.root / table
        if p_table.exists():
            p_table.rename(self.root / old)
        (self.root / staged).rename(p_table)
        self.drop(old)
        self._stamp(table, df.schema.toDDL())

    # ---- properties (Iceberg table-properties analog; holds run params —
    # the reference's *_parameters.json, main.rs:254-276)
    def set_properties(self, table: str, props: dict):
        merged = self.properties(table)
        merged.update(props)
        self._write_properties(table, merged)

    def _write_properties(self, table: str, props: dict):
        # written aside and renamed into place: reads plan from the
        # sidecar's schema, so a torn sidecar would make the table unreadable
        p = self.root / f"{table}.properties.json"
        tmp = p.with_name(f".{p.name}.{uuid.uuid4().hex}")
        tmp.write_text(json.dumps(props, sort_keys=True, indent=1))
        tmp.replace(p)

    def properties(self, table: str) -> dict:
        p = self.root / f"{table}.properties.json"
        return json.loads(p.read_text()) if p.exists() else {}

    # ---- stage checkpoints
    def _marker(self, stage: str) -> Path:
        d = self.root / "_stages"
        d.mkdir(exist_ok=True)
        return d / f"{stage}.json"

    def stage_complete(self, stage: str, params_hash: str) -> bool:
        info = self.stage_info(stage)
        return info.get("params_hash") == params_hash and info.get("status") == "complete"

    def stage_info(self, stage: str) -> dict:
        """The stage's completion-marker record ({} when never marked)."""
        m = self._marker(stage)
        return json.loads(m.read_text()) if m.exists() else {}

    def mark_stage(self, stage: str, params_hash: str, **extra):
        self._marker(stage).write_text(
            json.dumps({"stage": stage, "params_hash": params_hash, "status": "complete", **extra})
        )

    def clear_stage(self, stage: str):
        m = self._marker(stage)
        if m.exists():
            m.unlink()
        # a stale stage invalidates its per-partition completion manifest
        # too (partition-granular stages, run_partitioned_stage)
        self.drop(self._manifest(stage))

    # ---- per-partition completion manifests (O6 north_rule: "restarts
    # without recomputing completed signature or band partitions")
    def _manifest(self, stage: str) -> str:
        return f"{stage}_partitions"

    def completed_partitions(self, stage: str, params_hash: str) -> "set[str]":
        t = self._manifest(stage)
        if not self.exists(t):
            return set()
        rows = (
            self.read(t)
            .filter(F.col("params_hash") == params_hash)
            .select("part")
            .collect()
        )
        return {r.part for r in rows}

    def mark_partitions(self, stage: str, params_hash: str, parts, output_rows=None):
        now = time.time()
        self._append_rows(
            self._manifest(stage),
            _MANIFEST_DDL,
            [
                {"stage": stage, "params_hash": params_hash, "part": str(p),
                 "output_rows": output_rows, "ts": now}
                for p in parts
            ],
        )

    # ---- lineage / metrics rows (O6)
    def log_metrics(
        self,
        stage: str,
        params_hash: str,
        wall_ms: float,
        input_rows: int | None = None,
        output_rows: int | None = None,
        status: str = "complete",
        **extra,
    ):
        row = {
            "stage": stage,
            "params_hash": params_hash,
            "wall_ms": float(wall_ms),
            "input_rows": input_rows,
            "output_rows": output_rows,
            "status": status,
            "ts": time.time(),
            "extra": json.dumps(extra, sort_keys=True) if extra else None,
        }
        self._append_rows(METRICS_TABLE, _METRICS_DDL, [row])

    def metrics(self) -> DataFrame:
        return self.read(METRICS_TABLE)


def run_stage(
    catalog: ParquetCatalog,
    stage: str,
    params_hash: str,
    builder,
):
    """Idempotent stage runner: skip when (stage, params_hash) completed and
    the output table (named after the stage) exists; otherwise build,
    write, log metrics, mark.

    The row count in the metrics row and the stage marker comes from an
    ``Observation`` on the write, filled by the write's own jobs: the table
    is not re-read or counted. Returns the output DataFrame, read from the
    table in either case (its stamped schema plans the scan without a
    job), which gives downstream stages a clean scan instead of a long
    lineage.
    """
    if catalog.stage_complete(stage, params_hash) and catalog.exists(stage):
        return catalog.read(stage), True
    t0 = time.monotonic()
    rows = Observation()
    catalog.write(builder().observe(rows, F.count(F.lit(1)).alias("n")), stage)
    # stamp this writer's provenance: if the table was previously produced
    # by run_partitioned_stage under a different (e.g. wave-suffixed)
    # params_hash, the stale sidecar would otherwise let a later
    # partitioned run trust its manifest against a flat-layout table and
    # write part_col= dirs alongside flat files (conflicting directory
    # structures on read)
    catalog.set_properties(stage, {"params_hash": params_hash})
    n = rows.get["n"]
    catalog.log_metrics(stage, params_hash, (time.monotonic() - t0) * 1000, output_rows=n)
    catalog.mark_stage(stage, params_hash, output_rows=n)
    return catalog.read(stage), False


def run_partitioned_stage(
    catalog: ParquetCatalog,
    stage: str,
    params_hash: str,
    part_values,
    builder,
    part_col: str = "part",
):
    """Partition-granular resumable stage (O6): the north-rule promise that
    a killed run "restarts without recomputing completed signature or band
    partitions", at sub-stage granularity.

    ``part_values`` is the full deterministic list of partition-unit values
    for this stage; ``builder(values)`` returns a DataFrame whose
    ``part_col`` column only holds those values. Each value runs as one
    deterministic wave:

    1. the wave's output dynamically OVERWRITES only its partitions
       (idempotent replay — a wave that crashed between the data commit
       and the manifest append is simply rewritten);
    2. partition-completion rows append to the ``{stage}_partitions``
       manifest, keyed by params_hash;
    3. a metrics row records the wave (lineage evidence).

    A rerun anti-joins the value list against the manifest and recomputes
    NOTHING already manifested; when every value is manifested the stage
    is marked complete and skipped wholesale. A params_hash change drops
    the table + manifest and rebuilds from scratch (F6 semantics).
    """
    prior = catalog.properties(stage).get("params_hash")
    if prior != params_hash and (prior is not None or catalog.exists(stage)):
        # params changed, OR the table exists without a partitioned-runner
        # provenance tag (e.g. written by single-job run_stage with a
        # different layout): drop and rebuild
        catalog.drop(stage)
        catalog.drop(catalog._manifest(stage))
        catalog.clear_stage(stage)
    elif catalog.exists(stage) and part_col not in catalog.read(stage).columns:
        # provenance tag matches but the durable layout is flat (a
        # non-partitioned writer rewrote the table between partitioned
        # runs): trusting the manifest would mix part_col= dirs with flat
        # files — drop and rebuild under the partitioned layout
        catalog.drop(stage)
        catalog.drop(catalog._manifest(stage))
        catalog.clear_stage(stage)
    catalog.set_properties(stage, {"params_hash": params_hash})
    done = catalog.completed_partitions(stage, params_hash)
    if not catalog.exists(stage):
        if catalog.stage_complete(stage, params_hash) and catalog.stage_info(
            stage
        ).get("empty_output"):
            # the stage completed and its marker records that every wave
            # legitimately produced zero rows: the manifest is the truth,
            # nothing to replay (previously this path re-ran the whole
            # stage on every invocation of an empty-output stage)
            pass
        else:
            # nothing durable on disk and no known-empty marker (table was
            # lost, or a prior run died mid-stage with only empty waves
            # manifested): replay everything — dynamic overwrite makes the
            # replay idempotent
            done = set()
    todo = [v for v in part_values if str(v) not in done]
    if not todo:
        if not catalog.stage_complete(stage, params_hash):
            catalog.mark_stage(stage, params_hash, empty_output=not catalog.exists(stage))
        if catalog.exists(stage):
            return catalog.read(stage), True
        # known-empty completed stage: surface an empty frame WITHOUT
        # invoking the builder (ADVICE r5: builders may run eager work —
        # pairs_from_keys checkpoints and probes — so "no wave executes"
        # was only true for lazy builders). The completing run records the
        # output schema in the marker; a marker written before that
        # (legacy) falls back to one builder call. Returns None when
        # ``part_values`` itself is empty (nothing to derive a schema
        # from — documented contract).
        schema_json = catalog.stage_info(stage).get("schema")
        if schema_json is not None:
            from pyspark.sql import types as T

            return (
                catalog.spark.createDataFrame(
                    [], T.StructType.fromJson(json.loads(schema_json))
                ),
                True,
            )
        return builder([part_values[0]]).limit(0) if part_values else None, True
    last_df = None
    for v in todo:
        t0 = time.monotonic()
        df = last_df = builder([v])
        catalog.overwrite_partitions(df, stage, [part_col])
        catalog.mark_partitions(stage, params_hash, [v])
        catalog.log_metrics(
            stage,
            params_hash,
            (time.monotonic() - t0) * 1000,
            status="wave_complete",
            parts=[str(v)],
        )
    # record the output schema so empty-output resumes never have to call
    # the (possibly eager) builder just to learn it
    catalog.mark_stage(
        stage,
        params_hash,
        empty_output=not catalog.exists(stage),
        schema=last_df.schema.json(),
    )
    if catalog.exists(stage):
        return catalog.read(stage), False
    # every wave was empty: dynamic overwrite wrote no files — return an
    # empty frame with the builder's schema (the marker's empty_output
    # flag lets reruns trust the manifest instead of replaying)
    return last_df.limit(0), False


def resume_delta(
    incoming: DataFrame,
    existing: DataFrame | None,
    id_col: str = "url",
    fp_col: str | None = None,
) -> DataFrame:
    """Row-level resume: rows of ``incoming`` not yet present in
    ``existing`` — SURVEY.md §2.8.

    With ``fp_col`` (present in both frames) the delta keys on
    ``(id, fingerprint)``: url identity is NOT content identity — a
    re-crawled page can arrive with mutated text, and an id-only anti-join
    would silently keep the stale sketch row (the downstream candidate and
    verify stages then trust a MinHash of text that is gone)."""
    if existing is None:
        return incoming
    if fp_col is not None:
        return incoming.join(
            existing.select(id_col, fp_col).distinct(), [id_col, fp_col], "left_anti"
        )
    return incoming.join(existing.select(id_col).distinct(), id_col, "left_anti")
