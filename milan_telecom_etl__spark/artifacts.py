"""Standing artifacts: build once, then append or serve (VERDICT r10 #2 /
r13 #5).

A production ingest pipeline does not retrain its tokenizer, rebuild
its dedup index or re-sketch history on every arriving batch: those
are STANDING artifacts, built offline from the already-ingested corpus,
shipped to a warehouse path and LOADED at query time. Every such store
here follows one rule, `refresh`:

- identity is the corpus LOCATION plus the artifact's name; its one
  manifest, `_shards.json` inside the artifact dir, records what it
  holds: the source table's files it was built from (relative path ->
  [size, mtime_ms], listed recursively through the Hadoop FileSystem)
  and the Spark schema of the rows it wrote, so a serve reads with a
  declared schema and runs no inference job;
- no manifest, a corrupt one (its schema included), a missing
  `_SUCCESS` (a build killed half-way) or an orphaned `_append_pending`
  marker (a process killed inside an append): rebuild in place;
- a recorded file changed or vanished: rebuild in place;
- only new files: append them, when the store can (`append`
  callback); otherwise rebuild;
- nothing changed: serve the stored files.

Three stores ride on it: `load_or_build` (any change rebuilds),
`load_or_append_partials` (mergeable per-file partials, growth
appends) and `bucketed.appendable_bucketed_table` (the standing
bucketed index, growth appends at the stored width). Reuse is sound
only when keyed on what was actually read, and here that is the files.

Scale notes:
- Every path goes through the Hadoop FileSystem API, so the same code
  serves a local dir on local[32] and an object store (s3a://,
  hdfs://) on a cluster; existence is a FileSystem call, never an
  os.path probe of executor-local disk.
- A rebuild overwrites the one location, so a changed corpus leaves
  no stale copy behind.
- Artifacts are small relative to the corpus (vocabulary-grain
  tables, 1-row models, narrow index projections), so a build is a
  bounded job and the read side gets parquet column pruning for free.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import posixpath
from typing import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _is_plain_local(path: str) -> bool:
    """True for a bare filesystem path (no URI scheme). `file://...`
    URIs count as scheme'd: os.path.abspath would mangle them just
    like s3a:// (ADVICE r12 #1)."""
    return urlparse(path).scheme == ""


def canon_path(path: str) -> str:
    """Canonical identity form of a warehouse path: abspath for plain
    local paths (stable under cwd changes), VERBATIM for scheme'd URIs
    — abspath on s3a://bucket/... would prepend the process cwd and
    mangle the URI."""
    return os.path.abspath(path) if _is_plain_local(path) else path


def fs_join(root: str, *parts: str) -> str:
    """Join path components under a warehouse root: os.path semantics
    for plain local paths, POSIX/Hadoop-Path semantics for scheme'd
    URIs (hdfs://, s3a://, file://)."""
    if _is_plain_local(root):
        return os.path.join(root, *parts)
    return posixpath.join(root, *parts)


def artifact_root() -> str:
    """Warehouse root for standing artifacts. `SPARK_GRAFT_ARTIFACTS`
    overrides (point it at s3a://bucket/artifacts on a cluster);
    default is a repo-local dir, gitignored."""
    return os.environ.get(
        "SPARK_GRAFT_ARTIFACTS", os.path.join(_REPO_ROOT, ".artifacts")
    )


def loc_key(sf_dir: str, extra: str = "") -> str:
    """Location digest for artifact identity: md5 of the canonical
    corpus path (abspath for local, verbatim for scheme'd URIs — plus
    any extra identity material, e.g. the artifact root itself when
    the derived NAME outlives the root — bucketed catalog names)."""
    base = canon_path(sf_dir) + ("\0" + extra if extra else "")
    return hashlib.md5(base.encode()).hexdigest()[:12]


def artifact_path(sf_dir: str, name: str) -> str:
    return fs_join(artifact_root(), loc_key(sf_dir), name)


@functools.lru_cache(maxsize=1)
def _path_class(gateway):
    """Hadoop's Path class, resolved once per py4j gateway: each py4j
    class lookup is a JVM round trip, and `refresh` builds about five
    Paths per serve."""
    return gateway.jvm.org.apache.hadoop.fs.Path


def _hpath(spark: SparkSession, path: str):
    """(Hadoop Path, its FileSystem) for a local path or URI."""
    p = _path_class(spark.sparkContext._gateway)(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """True when `path` holds a COMPLETE write: checks the committer's
    _SUCCESS marker, so a half-written artifact from a killed job is
    rebuilt, not served."""
    p, fs = _hpath(spark, fs_join(path, "_SUCCESS"))
    return bool(fs.exists(p))


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    # whole-or-absent: write a temp sibling then rename. This runs
    # AFTER _SUCCESS exists, so a job killed mid-write must not leave a
    # truncated file that poisons every future fresh-session
    # re-registration (ADVICE r13 #2); HDFS/local rename is atomic.
    p, fs = _hpath(spark, path)
    tmp = p.suffix("._tmp")
    out = fs.create(tmp, True)
    try:
        out.write(text.encode("utf-8"))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)
    fs.rename(tmp, p)


def _fs_delete(spark: SparkSession, path: str) -> None:
    p, fs = _hpath(spark, path)
    if fs.exists(p):
        fs.delete(p, False)


def _read_text(spark: SparkSession, path: str) -> str | None:
    p, fs = _hpath(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def _table_base(sf_dir: str, table: str) -> str:
    return fs_join(sf_dir, f"{table}.parquet")


def _corpus_files(
    spark: SparkSession, sf_dir: str, table: str
) -> dict[str, list[int]]:
    """relative path -> [size, mtime_ms] for every data file of the
    source table: the file itself, or every file under the table dir,
    recursively (a `key=value`-partitioned table nests its files),
    skipping `_`/`.`-prefixed components like Spark's file index
    does. A NEW path is an appendable shard; a changed or vanished one
    forces a rebuild."""
    p, fs = _hpath(spark, _table_base(sf_dir, table))
    st = fs.getFileStatus(p)
    if st.isFile():
        return {p.getName(): [int(st.getLen()), int(st.getModificationTime())]}
    root = st.getPath().toUri().getPath().rstrip("/") + "/"
    out: dict[str, list[int]] = {}
    files = fs.listFiles(p, True)
    while files.hasNext():
        s = files.next()
        rel = s.getPath().toUri().getPath()[len(root):]
        if not any(part.startswith((".", "_")) for part in rel.split("/")):
            out[rel] = [int(s.getLen()), int(s.getModificationTime())]
    return out


def read_files(
    spark: SparkSession, sf_dir: str, table: str, files: list[str]
) -> DataFrame:
    """Raw rows of some of the table's files (manifest-relative
    paths). `basePath` keeps partition discovery anchored at the table
    root, so a file in a nested `key=value` dir still carries its
    partition columns."""
    base = _table_base(sf_dir, table)
    return spark.read.option("basePath", base).parquet(
        *[fs_join(base, f) for f in files]
    )


def append_plan(
    known: dict[str, list[int]] | None, current: dict[str, list[int]]
) -> tuple[str, list[str]]:
    """The append-only state machine, as a pure decision: given the
    manifest's per-file metadata (None = no/corrupt manifest) and the
    corpus's current files, return ('rebuild'|'append'|'serve',
    new_files)."""
    if known is None:
        return "rebuild", []
    mutated = any(
        fname not in current or current[fname] != meta
        for fname, meta in known.items()
    )
    if mutated:
        return "rebuild", []
    new_files = sorted(set(current) - set(known))
    return ("append", new_files) if new_files else ("serve", [])


def refresh(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    path: str,
    rebuild: Callable[[], dict],
    append: Callable[[list[str], dict], None] | None = None,
    stale: Callable[[dict, dict], bool] | None = None,
) -> dict:
    """Bring the standing artifact at `path` up to date with the source
    table and return its manifest. `rebuild()` writes the whole
    artifact and returns the store's own manifest fields, `schema`
    (the written rows' `StructType.jsonValue()`) among them;
    `append(new_files, manifest)` adds only the new files' rows (no
    callback: growth rebuilds); `stale(manifest, current)` is a store's
    extra rebuild rule over a valid manifest and the source's current
    listing.

    An append is two commits with no transaction between them (data,
    then manifest), so it is bracketed by an `_append_pending` marker:
    a process killed inside the bracket may have committed rows the
    manifest does not record, and appending them again would count
    them twice — the next refresh rebuilds instead."""
    manifest_path = fs_join(path, "_shards.json")
    pending = fs_join(path, "_append_pending")
    current = _corpus_files(spark, sf_dir, table)
    manifest = None
    if _fs_exists(spark, path):
        try:
            manifest = json.loads(_read_text(spark, manifest_path) or "null")
            manifest["files"] = dict(manifest["files"])
            T.StructType.fromJson(manifest["schema"])
        except (ValueError, KeyError, TypeError, AttributeError):
            manifest = None  # absent, truncated or corrupt
    action, new_files = append_plan(
        None if manifest is None else manifest["files"], current
    )
    if action != "rebuild" and (
        _read_text(spark, pending) is not None
        or (stale is not None and stale(manifest, current))
        or (action == "append" and append is None)
    ):
        action = "rebuild"
    if action == "serve":
        return manifest
    if action == "rebuild":
        manifest = rebuild()
    else:
        _write_text(spark, pending, json.dumps(new_files))
        append(new_files, manifest)
    manifest["files"] = current
    _write_text(spark, manifest_path, json.dumps(manifest))
    _fs_delete(spark, pending)
    return manifest


def _serve(spark: SparkSession, path: str, manifest: dict) -> DataFrame:
    """The artifact's files, read with the schema its manifest
    recorded: no inference job."""
    return spark.read.schema(T.StructType.fromJson(manifest["schema"])).parquet(path)


def load_or_build(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
    table: str = "documents",
) -> DataFrame:
    """Return the named standing artifact as a parquet-backed frame,
    built via `build()` when absent and rebuilt in place whenever a
    file of the source `table` changes, appears or vanishes. The
    returned frame needs no persist/unpersist lifecycle — it IS the
    warehouse parquet."""
    path = artifact_path(sf_dir, name)

    def rebuild() -> dict:
        df = build()
        df.write.mode("overwrite").parquet(path)
        return {"schema": df.schema.jsonValue()}

    return _serve(spark, path, refresh(spark, sf_dir, table, path, rebuild))


def load_or_append_partials(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[DataFrame], DataFrame],
    table: str = "events",
) -> DataFrame:
    """Append-only per-file PARTIALS store — the standing-index refresh
    posture (VERDICT r13 #5) applied to MERGEABLE aggregates. `build`
    maps a batch of raw source rows to a bounded partial table (HLL
    sketches, counters, moment rows): the first serve builds partials
    from every file, growth builds them from ONLY the new files and
    appends their rows beside history (history parquet untouched).

    The caller MERGES at read time (hll_union_agg / sum over partial
    rows) — by mergeability the union of per-batch partials equals the
    one-shot partials, so serving is refresh-order-independent. `build`
    receives raw file reads: pass one that normalizes what it needs
    (the HLL entry applies `sources.parquet.adapt_table` itself)."""
    path = fs_join(artifact_root(), "partials", loc_key(sf_dir), name)

    def rebuild() -> dict:
        df = build(spark.read.parquet(_table_base(sf_dir, table)))
        df.write.mode("overwrite").parquet(path)
        return {"schema": df.schema.jsonValue()}

    def append(new_files: list[str], manifest: dict) -> None:
        raw = read_files(spark, sf_dir, table, new_files)
        build(raw).write.mode("append").parquet(path)

    return _serve(
        spark, path, refresh(spark, sf_dir, table, path, rebuild, append)
    )
