"""Iceberg-style state tables with atomic round commits.

The north rule asks for Iceberg state tables with resumable rounds.
TableIO provides one API with two backends:

- **iceberg** (``use_iceberg=True``): requires a Spark session with an
  Iceberg catalog configured (``spark.sql.catalog.<name>`` +
  the Iceberg runtime jar on the classpath). Each logical table becomes
  ``<catalog>.<namespace>.<table>`` carrying a ``round`` column; a round
  commit is ``writeTo(...).overwritePartitions()`` scoped to that round
  — ONE atomic Iceberg snapshot (idempotent on re-commit of the same
  round). Constructing with ``use_iceberg=True`` and no catalog raises
  immediately rather than falling back silently.
- **parquet+manifest** (default; the only backend exercisable in this
  sandbox, which has no Iceberg jar): each round writes to a staged
  directory ``<table>/_staging/round=<k>-<nonce>`` then atomically
  installs it by renaming to ``<table>/round=<k>`` and rewriting
  ``<table>/_manifest.json``. A crash inside one table's commit leaves
  only staging garbage. This implements the same per-table commit
  contract (atomic install, monotone committed_round, per-round metadata)
  Iceberg snapshots give.

Neither backend is atomic ACROSS tables, so a writer that commits several
tables per round names one of them the round's commit point and reads the
others through ``read_all(table, max_round=k)``, where k is the commit
point's last round: the crawl engine commits ``seen``, ``records``, then
``frontier``, and round k exists once ``frontier`` round k is in its
manifest. A ``seen`` or ``records`` round beyond that is inert — readers
never look past k, and the resumed run re-commits over it.

Both backends keep the driver-side ``_manifest.json`` as round
bookkeeping (rounds list, committed_round, per-round meta); under
iceberg the durable commit point is the snapshot, and the manifest is
rebuilt from ``max(round)`` if missing.

At 10^10-URL scale each logical table stays partitioned (``host_bucket``)
so no state is ever collected to the driver.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid


def detect_iceberg_catalog(spark) -> str | None:
    """Name of the first Iceberg catalog configured on the session, or
    None. Checks the session's SparkConf (catalogs are configured at
    session start) plus the runtime SQLConf for explicitly-probed keys."""
    if spark is None:
        return None
    pat = re.compile(r"^spark\.sql\.catalog\.([A-Za-z0-9_]+)$")
    try:
        pairs = spark.sparkContext.getConf().getAll()
    except Exception:
        pairs = []
    for key, val in pairs:
        m = pat.match(key)
        if m and "iceberg" in (val or "").lower():
            return m.group(1)
    return None


class TableIO:
    def __init__(self, root: str, spark=None, use_iceberg: bool = False,
                 catalog: str | None = None, namespace: str = "osmospark"):
        self.root = root
        self.spark = spark
        self.use_iceberg = use_iceberg
        self.namespace = namespace
        self.catalog = None
        if use_iceberg:
            if catalog is not None:
                # explicit catalog: accept a runtime-set key too
                conf_val = None
                if spark is not None:
                    conf_val = spark.conf.get(
                        f"spark.sql.catalog.{catalog}", None)
                if not conf_val:
                    raise ValueError(
                        f"use_iceberg=True but spark.sql.catalog.{catalog} "
                        "is not configured on this session")
                self.catalog = catalog
            else:
                self.catalog = detect_iceberg_catalog(spark)
                if self.catalog is None:
                    raise ValueError(
                        "use_iceberg=True but no spark.sql.catalog.* with "
                        "an Iceberg implementation is configured; configure "
                        "an Iceberg catalog (plus the runtime jar) or use "
                        "the parquet+manifest backend (use_iceberg=False)")
        os.makedirs(root, exist_ok=True)

    def _qualified(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    # -- manifest -----------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_manifest.json")

    def manifest(self, table: str) -> dict:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            if self.use_iceberg:
                return self._manifest_from_iceberg(table)
            return {"rounds": [], "committed_round": -1}
        with open(path) as f:
            return json.load(f)

    def _manifest_from_iceberg(self, table: str) -> dict:
        """Rebuild round bookkeeping from the Iceberg table itself (the
        durable source of truth under this backend)."""
        try:
            rows = (self.spark.table(self._qualified(table))
                    .select("round").distinct().collect())
        except Exception:
            return {"rounds": [], "committed_round": -1}
        rounds = sorted(int(r["round"]) for r in rows)
        return {"rounds": rounds,
                "committed_round": rounds[-1] if rounds else -1}

    def _write_manifest(self, table: str, manifest: dict) -> None:
        path = self._manifest_path(table)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, path)  # atomic on POSIX

    # -- commit/read -----------------------------------------------------
    def commit_round(self, table: str, round_no: int, df,
                     meta: dict | None = None) -> str:
        """Write df for a round and atomically commit it."""
        if self.use_iceberg:
            from pyspark.sql import functions as F
            qualified = self._qualified(table)
            self.spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS "
                f"{self.catalog}.{self.namespace}")
            tagged = df.withColumn("round", F.lit(int(round_no)))
            if not self._iceberg_table_exists(qualified):
                tagged.writeTo(qualified) \
                    .partitionedBy(F.col("round")).create()
            else:
                # dynamic partition overwrite: ONE atomic snapshot
                # replacing exactly this round's partition (idempotent
                # on re-commit of the same round)
                tagged.writeTo(qualified).overwritePartitions()
            committed = qualified
        else:
            table_dir = os.path.join(self.root, table)
            os.makedirs(table_dir, exist_ok=True)
            staging = os.path.join(
                table_dir, "_staging",
                f"round={round_no}-{uuid.uuid4().hex[:8]}")
            df.write.mode("overwrite").parquet(staging)
            final = os.path.join(table_dir, f"round={round_no}")
            if os.path.exists(final):
                shutil.rmtree(final)
            os.replace(staging, final)
            committed = final
        manifest = self.manifest(table)
        manifest["rounds"] = sorted(
            {r["round"] for r in _norm_rounds(manifest)} | {round_no})
        manifest["committed_round"] = max(manifest["rounds"])
        manifest["meta"] = {**(manifest.get("meta") or {}),
                            str(round_no): (meta or {})}
        manifest["committed_at"] = time.time()
        self._write_manifest(table, manifest)
        return committed

    def _iceberg_table_exists(self, qualified: str) -> bool:
        try:
            self.spark.table(qualified)
            return True
        except Exception:
            return False

    def read_round(self, table: str, round_no: int):
        if self.use_iceberg:
            from pyspark.sql import functions as F
            return (self.spark.table(self._qualified(table))
                    .filter(F.col("round") == int(round_no)).drop("round"))
        return self.spark.read.parquet(
            os.path.join(self.root, table, f"round={round_no}"))

    def read_all(self, table: str, max_round: int | None = None):
        """Every committed round of ``table`` — only rounds ≤ ``max_round``
        when given — or None when there is none."""
        if self.use_iceberg:
            if not self._iceberg_table_exists(self._qualified(table)):
                return None
            from pyspark.sql import functions as F
            df = self.spark.table(self._qualified(table))
            if max_round is not None:
                df = df.filter(F.col("round") <= int(max_round))
            return df.drop("round")
        manifest = self.manifest(table)
        paths = [os.path.join(self.root, table, f"round={r}")
                 for r in manifest["rounds"]
                 if max_round is None or r <= max_round]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def last_round(self, table: str) -> int:
        return self.manifest(table)["committed_round"]


def _norm_rounds(manifest: dict):
    return [{"round": r} for r in manifest.get("rounds", [])]
