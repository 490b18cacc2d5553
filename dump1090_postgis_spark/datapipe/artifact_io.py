"""One commit protocol for the persisted artifacts (IVF cell store,
cluster map, LSH banded artifact): a store is complete when its
witness says so.

:func:`publish` stamps ``<path>/_witness`` (a one-row parquet
``(witness string)``, hidden from Spark listings) as *pending*, runs
the store's data write, then stamps the witness payload.
:func:`verify` refuses an absent witness (never built, or an overwrite
died and took the old witness with the directory), a pending one (a
write died, e.g. mid-append) and a stale one, so a crash at any point
leaves a store that its compute-if-missing caller rebuilds.

Witness-last rather than a staged write plus rename: an append adds
files to an existing store, so staging would copy the whole store;
renames on object stores are copies; and Spark's overwrite already
deletes the old witness with the directory.  The rule is one writer
per path (entries keep separate paths); concurrent writers are out of
scope.

Stamps and sidecar reads use pyarrow on driver-local paths (no Spark
job; ``spark=None`` works) and Spark only for remote URIs.  An absent
or unreadable sidecar raises, as ``spark.read.parquet().collect()``
would.
"""

from __future__ import annotations

import glob
import json
import os
import re

#: Anything with a URI scheme other than file: is not guaranteed
#: driver-visible; read and write it through Spark.
_REMOTE_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")

_WITNESS = "_witness"
_PENDING = "pending"


def _local(loc: str) -> str | None:
    """The driver-local path of ``loc``; None for a remote URI."""
    if loc.startswith("file:"):
        return re.sub(r"^file:(//)?", "", loc)
    return None if _REMOTE_SCHEME.match(loc) else loc


def sidecar_rows(spark, loc: str) -> list[dict]:
    """Rows of the tiny parquet at ``loc`` as dicts, without a Spark
    job when the path is driver-local.  Raises when absent/unreadable
    (the same contract as a Spark read + collect)."""
    path = _local(loc)
    if path is None:
        return [r.asDict() for r in spark.read.parquet(loc).collect()]
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(
            f"no parquet files under {path} (absent or torn sidecar)"
        )
    import pyarrow.parquet as pq

    out: list[dict] = []
    for f in files:
        out.extend(pq.read_table(f).to_pylist())
    return out


def _stamp(spark, path: str, value: str) -> None:
    """Replace the witness of the store at ``path`` with ``value``."""
    loc = f"{path.rstrip('/')}/{_WITNESS}"
    local = _local(loc)
    if local is None:
        from pyspark.sql import functions as F

        (
            spark.range(1)
            .select(F.lit(value).alias("witness"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(loc)
        )
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(local, exist_ok=True)
    # a stamp torn by a crash is unreadable, which verify refuses too
    pq.write_table(
        pa.table({"witness": [value]}), os.path.join(local, "witness.parquet")
    )


def publish(spark, path: str, write, witness: dict) -> None:
    """Run ``write()``, the store's own data write, between a *pending*
    stamp and the ``witness`` stamp."""
    _stamp(spark, path, _PENDING)
    write()
    _stamp(spark, path, json.dumps(witness, sort_keys=True))


def verify(spark, path: str, expect: dict) -> dict:
    """The witness payload of the complete store at ``path``.  Raises
    ValueError, naming the path and the cause, unless the witness is
    one row, not pending, and matches every key of ``expect``."""
    try:
        rows = sidecar_rows(spark, f"{path.rstrip('/')}/{_WITNESS}")
    except Exception as exc:
        raise ValueError(
            f"store at {path} has no witness ({type(exc).__name__}): "
            "it was never built, or its build was interrupted"
        ) from exc
    if len(rows) != 1 or rows[0]["witness"] == _PENDING:
        raise ValueError(f"store at {path} is pending: a write was interrupted")
    stored = json.loads(rows[0]["witness"])
    # compare in JSON form: tuples read back as lists, int keys as str
    want = json.loads(json.dumps(expect, sort_keys=True))
    if any(stored.get(k) != v for k, v in want.items()):
        got = {k: stored.get(k) for k in want}
        raise ValueError(
            f"store at {path} is stale: stored {got} vs expected {want}"
        )
    return stored
