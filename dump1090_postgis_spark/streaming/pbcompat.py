"""Optional protobuf runtime discovery for ``transformWithState`` (TWS).

pyspark 4.x ships TWS protobuf gencode (``sql/streaming/proto/
StateMessage_pb2.py``) that hard-requires a ``google.protobuf``
runtime at least as new as the generating protoc (6.33 for Spark
4.1.2).  ``protobuf`` is an *optional* pyspark dependency — hosts that
never installed it can still run every other API, but TWS raises
ImportError in both the driver and the Python worker.

This module makes TWS usable on such hosts when ANY protobuf runtime
of the same major version is discoverable on disk (for example the
copy bundled inside a locally installed Google Cloud SDK), without
installing anything:

- ``prepare_env()`` — call BEFORE the SparkSession / JVM starts.  If
  ``google.protobuf`` is already importable, it only installs the
  same-major version-gap shim (see below).  Otherwise it scans
  ``SPARK_GRAFT_PROTOBUF_PATH`` (os.pathsep-separated dirs whose
  ``google/protobuf`` is a runtime) plus a small list of well-known
  on-disk locations, builds a minimal shim directory under
  ``<repo>/.artifacts/pbshim`` exposing ONLY ``google/protobuf`` (a
  symlink — the donor dirs carry unrelated top-level modules that must
  not leak onto ``sys.path``), and prepends it to both this process's
  ``sys.path`` and ``PYTHONPATH`` so forked Python *workers* inherit
  it.  A generated ``sitecustomize.py`` in the shim dir re-applies the
  version-gap shim inside every worker at interpreter startup, gated
  on ``SPARK_GRAFT_PB_DIR`` being set (so the shim dir is inert unless
  this module activated it).

- Version-gap shim: gencode 6.33 refuses runtimes < 6.33 via
  ``runtime_version.ValidateProtobufRuntimeVersion``.  Descriptor wire
  format is stable within a major version, so the shim re-raises only
  on a MAJOR mismatch and logs-and-continues on a minor gap (e.g. a
  6.32 runtime loading 6.33 gencode).  This is a deliberate,
  documented relaxation for the TWS transport only.

Scale note: on a real cluster protobuf is a one-line requirement in
the image spec and none of this runs (``prepare_env`` is a no-op when
the import already works).  The shim exists so single-host
environments without package installs can still execute the TWS path
end-to-end instead of skipping it.
"""

from __future__ import annotations

import os
import sys

# Public, well-known on-disk protobuf runtimes to probe when the
# normal import fails.  Each entry is a directory whose ``google/
# protobuf`` subtree is an importable protobuf runtime package.
_KNOWN_RUNTIME_DIRS = [
    # Google Cloud SDK bundles a full protobuf runtime with its App
    # Engine tooling (public SDK, Apache-2.0/BSD licensed components).
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
]

_SITECUSTOMIZE = '''\
"""Generated by dump1090_postgis_spark.streaming.pbcompat — applies the
same-major protobuf version-gap shim inside Spark Python workers.
Inert unless SPARK_GRAFT_PB_DIR is set by pbcompat.prepare_env()."""
import os

if os.environ.get("SPARK_GRAFT_PB_DIR"):
    try:
        from google.protobuf import runtime_version as _rv

        _orig = _rv.ValidateProtobufRuntimeVersion

        def _same_major_tolerant(domain, major, minor, patch, suffix, location):
            try:
                _orig(domain, major, minor, patch, suffix, location)
            except Exception:
                if major != _rv.MAJOR:
                    raise

        _rv.ValidateProtobufRuntimeVersion = _same_major_tolerant
    except Exception:
        pass
'''


def _runtime_ok() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _apply_version_gap_shim() -> None:
    """Relax the gencode-newer-than-runtime check to same-major only
    (descriptor wire format is stable within a major)."""
    try:
        from google.protobuf import runtime_version as _rv
    except ImportError:
        return  # pre-5.26 runtime: gencode import fails regardless
    orig = _rv.ValidateProtobufRuntimeVersion
    if getattr(orig, "_pbcompat_shim", False):
        return

    def _same_major_tolerant(domain, major, minor, patch, suffix, location):
        try:
            orig(domain, major, minor, patch, suffix, location)
        except Exception:
            if major != _rv.MAJOR:
                raise

    _same_major_tolerant._pbcompat_shim = True
    _rv.ValidateProtobufRuntimeVersion = _same_major_tolerant


def _candidate_dirs() -> list[str]:
    env = os.environ.get("SPARK_GRAFT_PROTOBUF_PATH", "")
    dirs = [d for d in env.split(os.pathsep) if d]
    dirs += _KNOWN_RUNTIME_DIRS
    return [
        d
        for d in dirs
        if os.path.isfile(os.path.join(d, "google", "protobuf", "__init__.py"))
    ]


def _build_shim_dir(donor: str) -> str:
    """Materialize ``.artifacts/pbshim`` exposing ONLY google/protobuf
    from the donor (symlink), plus the worker sitecustomize."""
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    shim = os.path.join(repo_root, ".artifacts", "pbshim")
    gdir = os.path.join(shim, "google")
    os.makedirs(gdir, exist_ok=True)
    init = os.path.join(gdir, "__init__.py")
    if not os.path.exists(init):
        with open(init, "w") as f:
            f.write("")  # plain package; only member is the symlink below
    link = os.path.join(gdir, "protobuf")
    target = os.path.join(donor, "google", "protobuf")
    if os.path.islink(link):
        if os.readlink(link) != target:
            os.unlink(link)
    if not os.path.exists(link):
        os.symlink(target, link)
    sc = os.path.join(shim, "sitecustomize.py")
    if not os.path.isfile(sc) or open(sc).read() != _SITECUSTOMIZE:
        with open(sc, "w") as f:
            f.write(_SITECUSTOMIZE)
    return shim


def prepare_env() -> bool:
    """Make ``google.protobuf`` importable (driver + future workers) if
    any same-major runtime is discoverable.  Returns availability.

    Must run BEFORE the SparkSession is created: worker processes
    inherit PYTHONPATH captured at JVM start.
    """
    if _runtime_ok():
        _apply_version_gap_shim()
        return True
    for donor in _candidate_dirs():
        shim = _build_shim_dir(donor)
        if shim not in sys.path:
            sys.path.insert(0, shim)
        if not _runtime_ok():  # donor runtime is broken — undo and keep looking
            sys.path.remove(shim)
            continue
        existing = os.environ.get("PYTHONPATH", "")
        if shim not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                shim + (os.pathsep + existing if existing else "")
            )
        os.environ["SPARK_GRAFT_PB_DIR"] = donor
        _apply_version_gap_shim()
        return True
    return False


def tws_available() -> bool:
    """True when the TWS protobuf gencode actually imports (runtime
    present AND version-compatible after the shim)."""
    if not _runtime_ok():
        return False
    _apply_version_gap_shim()
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401

        return True
    except Exception:
        return False
