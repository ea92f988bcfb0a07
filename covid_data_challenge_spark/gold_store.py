"""One content-addressed store for persisted golds.

A gold is a derived table (an index, a model's parameter tables, a
synthesized corpus) that is expensive to build and cheap to scan, so it
is written once and read by every later query. Each gold lives under

    <ROOT>/<family>/<slot>/<digest>_<generation>

where the slot is derived from the sf directory and the digest hashes
everything the gold was derived from (:func:`key`): the family and its
version constant, the defining parameters, the keys of upstream golds,
the fingerprint of the source files and of any source frame. A changed
input therefore names a different entry; nothing is ever judged stale by
comparing timestamps.

:func:`load_or_build` is the one entry point. A build writes into a
unique temporary directory beside the entries and is published with one
``os.rename``, so a reader sees a complete entry or none. Of two
concurrent builders of one key, the one whose rename fails discards its
build and serves the winner's. A forced rebuild publishes a new
generation of its key and never writes into a directory a reader may be
scanning. After a publish, the other entries of its slot are removed
once they have not been served for ``PRUNE_GRACE_S``.

What the key cannot see: a source rewrite that keeps every file's size
and lands within one mtime tick (see ``readers.file_fingerprint``).
"""

from __future__ import annotations

import dataclasses
import getpass
import hashlib
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame

from covid_data_challenge_spark.sources.readers import (
    file_fingerprint,
    input_fingerprint,
)

#: Per-user store root; ``TMPDIR`` moves it.
ROOT = os.path.join(tempfile.gettempdir(), f"spark_graft_gold-{getpass.getuser()}")

#: Seconds an entry that a newer publish superseded stays readable after it
#: was last served: a concurrent session may hold a lazy frame over it.
PRUNE_GRACE_S = 600.0


@dataclasses.dataclass(frozen=True)
class Key:
    family: str
    slot: str
    digest: str


def key(family: str, sf_dir: str, *, sources=(), frames=(), **params) -> Key:
    """The key of gold ``family`` for ``sf_dir``.

    ``params`` are the gold's defining constants; a :class:`Key` among them
    (an upstream gold) contributes its digest. ``sources`` are the local
    files or directories the build reads; each must exist. ``frames`` are
    DataFrames the build reads; each contributes the fingerprint of its
    input files and a hash of its canonical analyzed plan, and a frame with
    no local input files (in-memory, checkpointed) is refused, because
    nothing about it could tell two versions apart."""
    parts: list = [
        family,
        sorted(
            (k, v.digest if isinstance(v, Key) else v) for k, v in params.items()
        ),
    ]
    for src in sources:
        files = file_fingerprint([src])
        if files is None:
            raise FileNotFoundError(f"gold source {src} has no readable data files")
        parts.append(files)
    for df in frames:
        parts.append(_frame_fingerprint(df))
    digest = hashlib.sha256(repr(parts).encode()).hexdigest()[:24]
    slot = sf_dir.strip("/").replace("/", "_") or "_"
    return Key(family, slot, digest)


def _frame_fingerprint(df: DataFrame) -> tuple:
    files = input_fingerprint(df)
    if files is None:
        raise ValueError(
            "a gold built from a frame is keyed on the files the frame reads, "
            "and this frame reads no local files (in-memory or checkpointed); "
            "write it to parquet and build from the scan instead"
        )
    plan = df._jdf.queryExecution().analyzed().canonicalized().toString()
    return files, hashlib.sha256(plan.encode()).hexdigest()


def load_or_build(k: Key, build_fn, rebuild: bool = False) -> str:
    """Path of the newest published entry for ``k``; when there is none, or
    ``rebuild`` is set, ``build_fn(tmp)`` first writes a new one into the
    not-yet-existing directory ``tmp``, which is then published.

    A build that raises publishes nothing and leaves no temporary directory.
    A failed rename re-raises unless an entry of the same name was
    published meanwhile (a lost race), which is then served."""
    slot = os.path.join(ROOT, k.family, k.slot)
    if not rebuild:
        path = _newest(slot, k.digest)
        if path is not None:
            _touch(path)
            return path
    os.makedirs(slot, exist_ok=True)
    tmp = os.path.join(slot, f".build-{uuid.uuid4().hex}")
    try:
        build_fn(tmp)
        if not os.path.isdir(tmp):
            raise RuntimeError(f"gold {k.family} build wrote nothing")
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    path = os.path.join(slot, f"{k.digest}_{time.time_ns() if rebuild else 0}")
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(path):
            raise
        return path
    _prune(slot, path)
    return path


def _newest(slot: str, digest: str) -> str | None:
    prefix = f"{digest}_"
    try:
        gens = [
            int(name[len(prefix):]) for name in os.listdir(slot)
            if name.startswith(prefix)
        ]
    except OSError:
        return None
    return os.path.join(slot, f"{prefix}{max(gens)}") if gens else None


def _touch(path: str) -> None:
    """Mark ``path`` as served now, which restarts its grace window."""
    try:
        os.utime(path)
    except OSError:
        pass


def _prune(slot: str, keep: str) -> None:
    """Remove the slot's entries other than ``keep`` that were not served
    within ``PRUNE_GRACE_S``. Each is first renamed out of the entry
    namespace, so no lookup can resolve a half-removed entry."""
    now = time.time()
    for name in os.listdir(slot):
        path = os.path.join(slot, name)
        if name.startswith(".") or path == keep:
            continue
        try:
            if now - os.stat(path).st_mtime < PRUNE_GRACE_S:
                continue
            trash = os.path.join(slot, f".trash-{uuid.uuid4().hex}")
            os.rename(path, trash)
        except OSError:
            continue  # served, removed or renamed by another session meanwhile
        shutil.rmtree(trash, ignore_errors=True)
