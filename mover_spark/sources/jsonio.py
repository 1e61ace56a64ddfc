"""JSON envelope sink/source — byte-level parity with the reference's file
format plus a partitioned mode for scale.

Reference format (etl/engine.go:141-164, etl/constants.go:3): one
``<out>/<table>.json`` per table containing
``{"table_name": ..., "count": N, "data": [row, ...]}``, tab-indented.
The loader walks a directory for ``*.json`` and dispatches on the embedded
``table_name`` (etl/loader.go:25-72) — file names don't matter.

Scale mode: a single JSON file means a single writer; for big tables
``write_envelope(..., partitioned=True)`` emits a Spark JSON directory
(``<out>/<table>/part-*.json`` + ``_envelope.json`` manifest) written in
parallel by every executor. ``read_envelopes`` consumes both layouts.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..util import map_concurrent

ENVELOPE_MANIFEST = "_envelope.json"


def _json_safe(v):
    import base64
    import decimal

    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        # strict-numeric catalogs carry DecimalType(38,18): render as a
        # string so no precision is lost in transit (read_envelope casts
        # back by schema); a float here would defeat strict mode
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, list):
        return [_json_safe(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    return v


def write_envelope(
    df: DataFrame, table_name: str, out_dir: str, partitioned: bool = False
) -> str:
    """Write one table's extract. Single-file mode matches the reference
    envelope exactly; partitioned mode scales (parallel writers).

    DRIVER-MEMORY BOUND (single-file mode only): ``partitioned=False``
    collects every row of the table to the driver and holds the whole
    JSON payload in driver RAM before writing — the extract must fit in
    driver memory (practically: envelopes up to a few GB). This mirrors
    the reference's own in-RAM extractor model (etl/extractor.go:17-18)
    and exists for byte-level envelope parity; it is the opt-in path.
    The default partitioned mode streams through executor writers and
    collects nothing — use it for anything big."""
    os.makedirs(out_dir, exist_ok=True)
    if partitioned:
        path = os.path.join(out_dir, table_name)
        # count what was WRITTEN, observed on the write job itself — not a
        # recompute of df's plan (for a non-deterministic upstream, e.g.
        # dropDuplicates, a second run could disagree with the files on
        # disk) and not a read-back job over the part files
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").json(path)
        n = obs.get["rows"]
        with open(os.path.join(path, ENVELOPE_MANIFEST), "w") as f:
            json.dump({"table_name": table_name, "count": n}, f, indent="\t")
        return path
    rows = [
        {k: _json_safe(v) for k, v in r.asDict(recursive=True).items()}
        for r in df.collect()
    ]
    payload = {"table_name": table_name, "count": len(rows), "data": rows}
    path = os.path.join(out_dir, f"{table_name}.json")
    with open(path, "w") as f:
        json.dump(payload, f, indent="\t")  # tab-indent: engine.go:152-158
    return path


def read_envelopes(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Walk `path`, decode every envelope (single-file or partitioned),
    return {table_name: DataFrame} — loader.Load semantics
    (etl/loader.go:25-72), set-at-a-time. Each entry's JSON schema
    inference is a Spark job of its own; the entries are read concurrently
    (``map_concurrent``) so those jobs share the session's task slots."""

    def read(entry: str) -> tuple[str, DataFrame] | None:
        full = os.path.join(path, entry)
        if entry.endswith(".json") and os.path.isfile(full):
            with open(full) as f:
                payload = json.load(f)
            # schema-less read of embedded rows; loader re-coerces against
            # the catalog downstream (postgres/util.go:29-107 equivalent)
            df = spark.read.json(
                spark.sparkContext.parallelize([json.dumps(r) for r in payload["data"]])
            )
            return payload["table_name"], df
        if os.path.isdir(full) and os.path.exists(os.path.join(full, ENVELOPE_MANIFEST)):
            with open(os.path.join(full, ENVELOPE_MANIFEST)) as f:
                manifest = json.load(f)
            return manifest["table_name"], spark.read.json(os.path.join(full, "part-*"))
        return None

    return dict(r for r in map_concurrent(spark, read, sorted(os.listdir(path))) if r)


def coerce_to_schema(df: DataFrame, target: DataFrame) -> DataFrame:
    """Schema-directed coercion of JSON-decoded rows to a target table's
    types — the Spark equivalent of valuesToPairs consulting the
    introspected column DataType (postgres/util.go:29-107).

    Per-type fidelity table (reference file:line -> here):
    - ``jsonb`` (util.go:36-42,91-96): the reference re-encodes the decoded
      map back to JSON text; a JSON-inferred struct/map/array coercing to a
      StringType target goes through ``to_json`` (a bare cast would render
      Spark's non-JSON struct syntax).
    - ``smallint[]/integer[]`` (util.go:47-66): JSON numbers infer as
      array<bigint>; element-wise cast to the target array element type.
    - ``varchar[]`` (util.go:141-149) / ``timestamp[]`` (util.go:150-158):
      RFC3339 strings cast element-wise to the target array type.
    - ``timestamp`` (util.go:77-90): RFC3339 text -> TimestampType cast.
    - ``inet`` / ``int4range`` (util.go:132-141): strings on both sides —
      identity.
    - ``numeric`` (util.go:177-183): double in lossy mode; a DecimalType
      target (strict catalog) casts exactly.
    """
    from pyspark.sql.types import ArrayType, MapType, StringType, StructType

    cols = []
    src_fields = {f.name: f for f in df.schema.fields}
    tgt_fields = {f.name: f for f in target.schema.fields}
    for name, field in tgt_fields.items():
        if name in df.columns:
            c = F.col(name)
            src_t = src_fields[name].dataType
            if isinstance(field.dataType, StringType) and isinstance(
                src_t, (StructType, MapType, ArrayType)
            ):
                c = F.to_json(c)  # jsonb parity: map -> JSON text, not cast
            cols.append(c.cast(field.dataType).alias(name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(name))
    return df.select(*cols)


def envelope_count(path: str) -> int:
    """Row count of a written envelope, read from what is ON DISK — the
    partitioned manifest or the single-file payload header — so reporting
    never re-executes the extract plan (a re-run of a non-deterministic
    upstream could disagree with the files actually written)."""
    if os.path.isdir(path):
        with open(os.path.join(path, ENVELOPE_MANIFEST)) as f:
            return int(json.load(f)["count"])
    with open(path) as f:
        return int(json.load(f)["count"])
