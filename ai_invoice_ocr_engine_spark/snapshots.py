"""Snapshot log for the bucketed spans table — the Iceberg
snapshot/time-travel/rollback analog over the parquet fallback layout.

The north_rule targets an Iceberg table of 10^12 interleaved documents;
Iceberg's real value beyond partitioning is its METADATA layer: every
commit produces an immutable snapshot (a manifest of data files), so the
table can be read as-of any retained snapshot, rolled back after a bad
write, diffed for incremental (CDC) consumption, and vacuumed of files no
retained snapshot references. The package writes no Iceberg table; this
module provides the same contract for the parquet layout:

    {out_dir}/spans/bucket=N/part-*.parquet   the table's rows (``SPANS_SCHEMA``)
    {out_dir}/_snapshots/snap-00000001.json   one immutable manifest per commit
    {out_dir}/_archive/<relpath>              retired data files (time travel)
    {out_dir}/_staging/spans/                 an op's rows before they land

(HEAD is derived by listing the manifests — no pointer file to go stale.)

HEAD's manifest is the table: no other file holds table state. A
snapshot manifest lists every live data file (relpath + size) under
``spans/`` at commit time, the table's lineage — one entry per bucket,
``"lineage": {"<bucket>": [doc_count, span_count, checksum]}``, the
bucket's digest as ``pipeline.lineage_of`` computes it over its rows —
the bucket layout its files were written under (``num_buckets``,
``layout``) and op metadata (``op``, ``run_id``, ``ts``, ``summary``).
Files and lineage commit in the same atomic publish, so a committed
snapshot never holds data without its lineage or lineage without its
data; the run that wrote a bucket's entry is the committing snapshot's
``run_id``. The bucket mutators (``run_extract``,
``upsert_extract``, the streaming append, ``compact_spans``,
``rebucket_spans``) take the same three steps:

1. ``open_table`` — clear ``_staging``, load HEAD once (one listing of
   ``_snapshots``, one read of each manifest in its delta chain), check
   its ``num_buckets`` and reconcile the live tree to it. The op reads
   its files, lineage and bucket count from that HEAD only;
2. ``pipeline.stage_buckets`` — write the op's rows once into
   ``_staging/spans`` and fold their lineage from the staged files; each
   op's gate compares that lineage (with HEAD's where it checks the
   table) before anything live changes;
3. ``pipeline.commit_buckets`` — ARCHIVE the files about to be destroyed
   (local archives are hard links: zero data copied, the inode survives
   the live file's deletion; paths with a URI scheme fall back to a
   filesystem copy), land the staged rows, and commit a new manifest
   against HEAD as its parent: HEAD's files less the replaced buckets
   plus the landed ones, carrying the folded lineage.

``rollback`` archives and restores files itself. Every filesystem call
goes through ``tablefs``. Spark part-file names carry a per-job UUID, so
a relpath identifies one immutable file for the life of the table and the
archive can be flat link-per-relpath with no versioning.

Every Spark read of the spans tree goes through ``read_tree`` with the
declared ``SPANS_SCHEMA``, never one inferred from its files: no read
starts a schema-inference job, and a missing or empty tree (a new table,
one whose every doc was purged) reads as an empty DataFrame.

Scale posture: a commit lists no data — its file list is HEAD's plus
the staged files it moved — and costs O(retired files) hard links, no
data pass; the open's reconciliation is an op's one full listing;
time-travel reads hand ``read_tree`` an explicit file list (one read
over live files, one over archived, unioned, each with ``basePath``),
so partition pruning on ``bucket`` still works;
``snapshot_changes`` diffs ONLY the buckets whose file sets differ
between the two manifests, so CDC cost is bounded by the mutation size,
not the table size. Concurrent committers ARE arbitrated at the
filesystem (atomic staged-then-link/rename manifest publish — one
winner per id, losers get a loud error, a torn HEAD manifest cannot
exist), the same optimistic-commit stance Iceberg takes; a catalog adds
retry orchestration, not safety.

MANIFEST SIZE (VERDICT r4 next-step #4): manifests are DELTAS against
their parent — ``{"base_id", "add": [...], "remove": [...], "lineage":
{changed buckets}, "lineage_remove": [emptied buckets]}`` — so a commit
that touches B buckets writes O(files-in-B + B) manifest bytes, not
O(total files); this is Iceberg's manifest-reuse idea flattened onto a
linear log. Every ``FULL_MANIFEST_EVERY``-th snapshot is a full listing,
bounding every read's resolution chain; ``load_snapshot`` materializes
transparently, so every consumer still sees ``snap["files"]`` and
``snap["lineage"]``.
``expire_snapshots`` rewrites retained delta manifests to full form
before dropping the bases they resolve against (a representation
rewrite, never a content change).
"""

from __future__ import annotations

import json
import os  # noqa: F401  (the hard-link test patches os.link through this module)
import posixpath
import re
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, MapType, StringType, StructField, StructType,
)

from . import tablefs

#: a spans row: ``pipeline.extract``'s output plus the bucket it lands in
SPANS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans_out", ArrayType(StructType([
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("order", IntegerType()),
    ]))),
    StructField("invoice_fields", MapType(StringType(), StringType())),
    StructField("n_spans_in", IntegerType()),
    StructField("n_media", IntegerType()),
    StructField("n_media_missing", IntegerType()),
    StructField("n_ocr", IntegerType()),
    StructField("bucket", IntegerType()),
])

SNAP_DIR = "_snapshots"
ARCHIVE_DIR = "_archive"
#: every k-th snapshot is a full file listing; the rest are parent deltas.
#: Bounds a read's delta-resolution chain at k-1 manifest loads while a
#: commit touching B buckets writes O(files-in-B) bytes.
FULL_MANIFEST_EVERY = 16


# ------------------------------------------------------------ table layout
#: bucket layout identifier every manifest records: Iceberg's bucket(P,
#: doc_id) transform is murmur3-based and assigns doc_ids to DIFFERENT
#: bucket numbers than this xxhash64 layout — one table must never mix two
#: layouts
BUCKET_LAYOUT = "parquet-xxhash64"
#: where a mutator stages its rows before ``pipeline.commit_buckets``
#: lands them; hidden, so no listing, snapshot or live-table read sees it
STAGING_DIR = "_staging"
_BUCKET_REL = re.compile(r"spans/bucket=(\d+)/")


def bucket_of(rel: str) -> int | None:
    """The bucket of a data file's relpath (``spans/bucket=N/...``)."""
    m = _BUCKET_REL.match(rel)
    return None if m is None else int(m.group(1))


def open_table(
    spark: SparkSession,
    out_dir: str,
    num_buckets: int | None = None,
    reconcile: bool = True,
) -> dict:
    """The one open step of every bucket mutator; returns the table's HEAD
    manifest, materialized (``load_snapshot``): ``snapshot_id``,
    ``files``, ``lineage``, ``num_buckets``. It is the only table state
    the op reads, and the parent its commit is made against.

    1. Clear ``_staging``: rows a crashed op staged never landed.
    2. Load HEAD and check its ``num_buckets`` against ``num_buckets``:
       a commit replaces only the buckets its rows land in, so another
       count would strand stale partitions of the old layout, with
       self-consistent lineage, and verify_lineage would still pass.
    3. Reconcile the live tree to HEAD (``reconcile_to_head``: torn files
       a crashed predecessor left are removed, HEAD files it deleted are
       restored). ``reconcile=False`` skips this step only:
       ``rebucket_spans`` gates its rewrite against committed lineage so
       that torn files fail it loudly instead of being quietly removed.

    A directory with no snapshot log is a new table when it holds no data
    file and the caller gives ``num_buckets``: its first writer sets the
    layout, and HEAD is the empty table (``snapshot_id`` None). Data files
    without a log cannot be told from torn writes, and a HEAD that records
    no layout was written before manifests carried it: both are refused,
    as is a directory with no log when the caller gives no
    ``num_buckets``."""
    tablefs.delete(spark, posixpath.join(out_dir, STAGING_DIR))
    sid = current_snapshot_id(spark, out_dir)
    if sid is None:
        if _list_tracked(spark, out_dir):
            raise ValueError(
                f"{out_dir!r} has data files but no snapshot log — cannot "
                "distinguish committed rows from torn writes; write into a "
                "fresh out_dir"
            )
        if num_buckets is None:
            raise ValueError(f"{out_dir!r} holds no table: no snapshot log, so no HEAD manifest")
        return {"snapshot_id": None, "num_buckets": int(num_buckets),
                "layout": BUCKET_LAYOUT, "files": [], "lineage": {}}
    head = load_snapshot(spark, out_dir, sid)
    if head.get("layout") != BUCKET_LAYOUT:
        raise ValueError(
            f"{out_dir!r}: HEAD snapshot {sid} records layout "
            f"{head.get('layout')!r}, not {BUCKET_LAYOUT!r} — a table written "
            "before manifests recorded their layout is not migrated; "
            "re-extract it into a fresh out_dir"
        )
    if num_buckets is not None and head["num_buckets"] != num_buckets:
        raise ValueError(
            f"out_dir {out_dir!r} was written with num_buckets={head['num_buckets']} "
            f"layout={BUCKET_LAYOUT!r}; rerunning with "
            f"num_buckets={num_buckets} would strand stale bucket "
            "partitions. Use a fresh out_dir (or delete the old one) to "
            "change the bucket layout, or rebucket the table."
        )
    if reconcile:
        reconcile_to_head(spark, out_dir, head)
    return head


def _list_tracked(spark: SparkSession | None, out_dir: str) -> list[list]:
    """[[relpath, bytes], ...] of every live parquet data file under
    ``spans/``, relpaths POSIX-style relative to ``out_dir``."""
    return sorted(
        [f"spans/{rel}", int(size)]
        for rel, size in tablefs.list_parquet_files(spark, posixpath.join(out_dir, "spans"))
    )


# ------------------------------------------------------------- snapshot log
def _snap_path(out_dir: str, snapshot_id: int) -> str:
    return posixpath.join(out_dir, SNAP_DIR, f"snap-{snapshot_id:08d}.json")


def _snapshot_ids(spark: SparkSession, out_dir: str) -> list[int]:
    ids = []
    for n in tablefs.list_names(spark, posixpath.join(out_dir, SNAP_DIR)):
        m = re.fullmatch(r"snap-(\d{8,})\.json", n)
        if m:
            ids.append(int(m.group(1)))
    return sorted(ids)


def current_snapshot_id(spark: SparkSession, out_dir: str) -> int | None:
    ids = _snapshot_ids(spark, out_dir)
    return ids[-1] if ids else None


def load_head(spark: SparkSession, out_dir: str) -> dict:
    """HEAD's manifest, materialized; a directory with no snapshot log
    holds no table and is refused."""
    sid = current_snapshot_id(spark, out_dir)
    if sid is None:
        raise ValueError(f"{out_dir!r} holds no table: no snapshot log, so no HEAD manifest")
    return load_snapshot(spark, out_dir, sid)


def load_snapshot(
    spark: SparkSession, out_dir: str, snapshot_id: int, loaded: dict | None = None
) -> dict:
    """Load a manifest, MATERIALIZED: a delta manifest resolves against
    its base chain (bounded at FULL_MANIFEST_EVERY-1 hops by construction)
    so every caller sees a complete ``snap["files"]`` and ``snap["lineage"]``
    ({bucket: (doc_count, span_count, checksum)}) regardless of the
    on-disk representation. An unparseable manifest names itself loudly —
    with the staged-publish writer that means external corruption, and the
    remedy (quarantine the file, re-list) is in the message. A caller that
    loads several manifests passes one ``loaded`` dict ({id: manifest}) to
    every call, so each manifest of a shared base chain is read once."""
    if loaded is not None and snapshot_id in loaded:
        return loaded[snapshot_id]
    path = _snap_path(out_dir, snapshot_id)
    try:
        snap = json.loads(tablefs.read_text(spark, path))
    except FileNotFoundError:
        raise ValueError(
            f"snapshot {snapshot_id} not found in {out_dir!r} (expired or "
            f"never committed; see `snapshots` for the retained log)"
        ) from None
    except ValueError:
        raise ValueError(
            f"snapshot manifest {path!r} is not valid JSON — the staged "
            "publish cannot produce this, so the file was corrupted after "
            "commit; move it aside and re-list (older snapshots remain "
            "readable; deltas based on it resolve only through their own "
            "chain)"
        ) from None
    lineage = _lineage_map(snap.get("lineage", {}))
    if "files" not in snap:
        base = load_snapshot(spark, out_dir, snap["base_id"], loaded)
        files = {rel: sz for rel, sz in base["files"]}
        for rel in snap.get("remove", ()):
            files.pop(rel, None)
        for rel, sz in snap.get("add", ()):
            files[rel] = sz
        snap["files"] = sorted([rel, sz] for rel, sz in files.items())
        emptied = set(snap.get("lineage_remove", ()))
        lineage = {
            **{b: v for b, v in base["lineage"].items() if b not in emptied},
            **lineage,
        }
    snap["lineage"] = lineage
    if loaded is not None:
        loaded[snapshot_id] = snap
    return snap


def _lineage_map(lineage: dict) -> dict[int, tuple]:
    """A lineage map keyed by int bucket with (doc_count, span_count,
    checksum) int tuples — JSON keys are strings and its arrays lists."""
    return dict(sorted((int(b), tuple(int(x) for x in v)) for b, v in lineage.items()))


def list_snapshots(spark: SparkSession, out_dir: str) -> list[dict]:
    """Snapshot log, oldest first, manifests elided to metadata + counts."""
    out, loaded = [], {}
    for sid in _snapshot_ids(spark, out_dir):
        s = load_snapshot(spark, out_dir, sid, loaded)
        out.append(
            {
                "snapshot_id": s["snapshot_id"],
                "parent_id": s["parent_id"],
                "op": s["op"],
                "run_id": s.get("run_id"),
                "ts": s.get("ts"),
                "files": len(s["files"]),
                "bytes": sum(sz for _, sz in s["files"]),
                "summary": s.get("summary") or {},
            }
        )
    return out


def commit_snapshot(
    spark: SparkSession,
    out_dir: str,
    parent: dict,
    op: str,
    files: list,
    lineage: dict | None = None,
    num_buckets: int | None = None,
    run_id: str | None = None,
    summary: dict | None = None,
) -> dict:
    """Append one immutable manifest: the table after an op that opened
    ``parent`` (the materialized HEAD ``open_table`` returned) and left
    ``files`` ([[relpath, bytes], ...]) live.

    Called by every mutating op strictly AFTER its data lands — the
    snapshot is the commit marker. The new id is the parent's + 1, so a
    writer that committed after this op's open already holds that id: the
    exclusive publish fails loudly (Iceberg's base check), and the next
    ``open_table`` reconciles the live tree to the winner's HEAD.
    ``lineage`` is the table's per-bucket lineage after the op ({bucket:
    (doc_count, span_count, checksum)}); ``None`` carries the parent's (a
    rewrite that keeps content). ``num_buckets`` is the layout ``files``
    were written under; ``None`` keeps the parent's (rebucket and rollback
    change it).

    On disk the manifest is a DELTA against the parent unless this is a
    FULL_MANIFEST_EVERY-th commit (or the log's first): an op touching B
    buckets writes O(files-in-B + B) bytes however large the table is.
    The returned dict is always materialized."""
    pid = parent["snapshot_id"]
    sid = (pid or 0) + 1
    lin = _lineage_map(parent["lineage"] if lineage is None else lineage)
    snap = {
        "snapshot_id": sid,
        "parent_id": pid,
        "op": op,
        "run_id": run_id,
        "ts": round(time.time(), 3),
        "num_buckets": int(parent["num_buckets"] if num_buckets is None else num_buckets),
        "layout": BUCKET_LAYOUT,
        "summary": summary or {},
        "files": sorted([rel, int(sz)] for rel, sz in files),
        "lineage": lin,
    }
    on_disk = snap
    if pid is not None and (sid - 1) % FULL_MANIFEST_EVERY != 0:
        old = {rel: sz for rel, sz in parent["files"]}
        new = {rel: sz for rel, sz in snap["files"]}
        on_disk = {k: v for k, v in snap.items() if k not in ("files", "lineage")}
        on_disk["base_id"] = pid
        on_disk["add"] = sorted(
            [rel, sz] for rel, sz in new.items() if old.get(rel) != sz
        )
        on_disk["remove"] = sorted(rel for rel in old if rel not in new)
        on_disk["lineage"] = {
            b: v for b, v in lin.items() if parent["lineage"].get(b) != v
        }
        on_disk["lineage_remove"] = sorted(b for b in parent["lineage"] if b not in lin)
    # note: no separate HEAD pointer file — the manifest listing is the
    # single source of truth (a pointer written after the manifest could
    # go stale on a crash between the two writes and mislead operators)
    _write_text_exclusive(spark, _snap_path(out_dir, sid), json.dumps(on_disk))
    return snap


def _write_text_exclusive(spark: SparkSession, path: str, text: str) -> None:
    """Create-or-fail manifest write — the optimistic-commit arbitration.
    Two writers racing to the same snapshot id resolve at the filesystem:
    exactly one wins, the loser gets a loud error instead of silently
    clobbering the winner's manifest (the stance of Iceberg's
    CommitFailedException — re-list the log and retry).

    TORN-MANIFEST SAFETY (ADVICE r4): ``tablefs.write_text`` stages the
    bytes and publishes them whole, so a crash mid-write can never leave
    a truncated JSON document as HEAD. Its exclusive publish is atomic
    locally and on HDFS; object stores without atomic rename (plain S3A)
    get torn-write safety but only best-effort race arbitration — run a
    catalog/lock service for multi-writer commits there, exactly as
    Iceberg requires a catalog on S3."""
    try:
        tablefs.write_text(spark, path, text, exclusive=True)
    except Exception as e:
        if isinstance(e, FileExistsError) or "exists" in str(e).lower():
            raise ValueError(
                f"concurrent snapshot commit detected: {path!r} already "
                "exists — another writer committed first; re-open the table and retry"
            ) from None
        raise


def doc_history(
    spark: SparkSession, out_dir: str, doc_ids
) -> dict[str, list[dict]]:
    """Documents' audit trails across every retained snapshot:
    {doc_id: [(snapshot_id, op, present, n_spans, digest), ...]}. The
    GDPR/debugging answer to 'what did we serve for this doc, when, and
    when did it change/disappear'. Cost: ONE bucket-pruned job per
    retained snapshot covering ALL requested docs (buckets are
    recomputed per snapshot from the layout THAT snapshot recorded, so
    trails stay pruned and correct across rebucket boundaries; legacy
    snapshots without the field scan that snapshot's spans fully —
    correct, just unpruned). Loud on a directory with no snapshot log,
    matching gc."""
    from .xxh import spark_bucket

    if isinstance(doc_ids, str):
        doc_ids = [doc_ids]
    doc_ids = list(doc_ids)
    sids = _snapshot_ids(spark, out_dir)
    if not sids:
        raise ValueError(
            f"{out_dir!r} has no snapshot log — not a snapshot-committed "
            "extract out_dir"
        )
    out: dict[str, list[dict]] = {d: [] for d in doc_ids}
    for sid in sids:
        snap = load_snapshot(spark, out_dir, sid)
        nb = snap.get("num_buckets")
        buckets = (
            sorted({spark_bucket(d, int(nb)) for d in doc_ids})
            if nb
            else None
        )
        rows = {
            r["doc_id"]: r
            for r in read_snapshot(spark, out_dir, sid, buckets=buckets)
            .where(F.col("doc_id").isin(doc_ids))
            .select(
                "doc_id",
                F.size("spans_out").alias("n_spans"),
                F.xxhash64("doc_id", F.to_json("spans_out")).alias("digest"),
            )
            .collect()
        }
        for d in doc_ids:
            r = rows.get(d)
            out[d].append(
                {
                    "snapshot_id": sid,
                    "op": snap["op"],
                    "present": r is not None,
                    "n_spans": int(r["n_spans"]) if r is not None else None,
                    "digest": int(r["digest"]) if r is not None else None,
                }
            )
    return out


# ------------------------------------------------------------------- tags
_TAG_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9._-]*\Z")


def _tag_path(out_dir: str, name: str) -> str:
    return posixpath.join(out_dir, SNAP_DIR, f"tag-{name}.json")


def set_tag(
    spark: SparkSession, out_dir: str, name: str, snapshot_id: int
) -> dict:
    """Name a snapshot (``prod``, ``pre-migration``, …) — a mutable named
    ref à la Iceberg branches/tags. Tagged snapshots are pinned: expiry
    retains them (and their files) regardless of ``keep_last``."""
    if not _TAG_RE.match(name):
        raise ValueError(f"invalid tag name {name!r}")
    load_snapshot(spark, out_dir, snapshot_id)  # must exist
    tablefs.write_text(
        spark,
        _tag_path(out_dir, name),
        json.dumps({"name": name, "snapshot_id": int(snapshot_id)}),
    )
    return {"name": name, "snapshot_id": int(snapshot_id)}


def delete_tag(spark: SparkSession, out_dir: str, name: str) -> None:
    path = _tag_path(out_dir, name)
    if not tablefs.exists(spark, path):
        raise ValueError(f"tag {name!r} not found")
    tablefs.delete(spark, path)


def list_tags(spark: SparkSession, out_dir: str) -> dict[str, int]:
    d = posixpath.join(out_dir, SNAP_DIR)
    out = {}
    for n in tablefs.list_names(spark, d):
        m = re.fullmatch(r"tag-(.+)\.json", n)
        if m:
            t = json.loads(tablefs.read_text(spark, posixpath.join(d, n)))
            out[m.group(1)] = int(t["snapshot_id"])
    return out


# ---------------------------------------------------------------------- gc
def _restore_tree(
    spark: SparkSession, out_dir: str, files: list, archive_removed: bool,
    unreachable: str,
) -> tuple[int, int]:
    """Make the live tracked tree exactly ``files`` (a manifest's
    [[relpath, bytes], ...]): live files it does not list are deleted —
    archived first with ``archive_removed`` — and listed files missing
    live are re-linked from the archive. A listed file neither live nor
    archived refuses the whole restore before anything is touched, with
    ``unreachable`` formatted with its count ``n`` and first ``rel``.
    Returns (removed, restored)."""
    want = {rel for rel, _ in files}
    live = {rel for rel, _ in _list_tracked(spark, out_dir)}
    lost = [
        rel
        for rel in sorted(want - live)
        if not tablefs.exists(spark, posixpath.join(out_dir, ARCHIVE_DIR, rel))
    ]
    if lost:
        raise ValueError(unreachable.format(n=len(lost), rel=lost[0]))
    for rel in sorted(live - want):
        p = posixpath.join(out_dir, rel)
        if archive_removed:
            tablefs.link(spark, p, posixpath.join(out_dir, ARCHIVE_DIR, rel))
        tablefs.delete(spark, p)
    for rel in sorted(want - live):
        tablefs.link(
            spark,
            posixpath.join(out_dir, ARCHIVE_DIR, rel),
            posixpath.join(out_dir, rel),
        )
    return len(live - want), len(want - live)


def reconcile_to_head(spark: SparkSession, out_dir: str, head: dict) -> dict:
    """Make the live tree EXACTLY ``head``, the materialized HEAD manifest
    — the two-sided crash reconciliation (ADVICE r4): (1) remove live
    tracked files HEAD does not reference (torn writes of a job that
    crashed before its snapshot commit — invisible to every snapshot yet
    read by a plain ``spark.read.parquet``); (2) re-link from the archive
    any HEAD file MISSING from the live tree (a crash between a bucket's
    replacement and its commit deletes the old files, which survive only
    as archive links — without the restore the live bucket reads empty
    while HEAD's lineage still marks it completed, so a resume run would
    silently skip it). A HEAD file with no live or archive copy is
    unrecoverable → loud error, table untouched. Metadata/link ops only:
    one listing of the live tree. Single-writer assumption as everywhere
    in this module. Returns the counts and the bucket count HEAD
    records."""
    removed, restored = _restore_tree(
        spark, out_dir, head["files"], archive_removed=False,
        unreachable=f"HEAD snapshot {head['snapshot_id']} references {{n}} "
        "file(s) present neither live nor archived (e.g. {rel!r}) — "
        "unrecoverable without rollback to an older snapshot; table untouched",
    )
    return {
        "head": head["snapshot_id"],
        "removed": removed,
        "restored": restored,
        "num_buckets": head["num_buckets"],
    }


def gc_uncommitted(spark: SparkSession, out_dir: str) -> dict:
    """Quarantine torn writes AND restore HEAD-referenced files the live
    tree lost (see ``reconcile_to_head`` — this is that reconciliation,
    kept under its historical CLI name). Every batch mutator runs the
    same reconciliation in ``open_table``, so a crashed predecessor can
    neither leave torn files to be laundered into the next commit nor a
    silently-empty live bucket behind HEAD's lineage entry."""
    return reconcile_to_head(spark, out_dir, open_table(spark, out_dir, reconcile=False))


# -------------------------------------------------------------- archiving
def archive_buckets(spark: SparkSession, out_dir: str, buckets) -> int:
    """Preserve every live spans file of the given bucket partitions
    before a mutation replaces them (``commit_buckets`` deletes the old
    files while it lands the new ones, so the links must exist first).
    Returns the number of files preserved."""
    n = 0
    for b in sorted({int(b) for b in buckets}):
        part = f"spans/bucket={b}"
        for rel, _ in tablefs.list_parquet_files(spark, posixpath.join(out_dir, part)):
            tablefs.link(
                spark,
                posixpath.join(out_dir, part, rel),
                posixpath.join(out_dir, ARCHIVE_DIR, part, rel),
            )
            n += 1
    return n


# ---------------------------------------------------------------- reading
def read_tree(spark: SparkSession, root: str, files: list[str] | None = None) -> DataFrame:
    """The one Spark read of a spans tree: ``{root}/spans`` (``root`` is
    the table, its ``_staging`` or its ``_archive``) with the declared
    ``SPANS_SCHEMA``, in its declared column order. ``files`` restricts
    the read to those paths under the tree (a snapshot's file list),
    ``bucket`` still recovered from their ``bucket=N`` directories. A
    missing tree or an empty file list reads as an empty DataFrame,
    planned as a local relation: actions over it start no job."""
    base = posixpath.join(root, "spans")
    if files is None:
        files = [base] if tablefs.exists(spark, base) else []
    if not files:
        return spark.createDataFrame([], SPANS_SCHEMA).limit(0)
    return (
        spark.read.schema(SPANS_SCHEMA)
        .option("basePath", base)
        .parquet(*files)
        .select(*SPANS_SCHEMA.fieldNames())
    )


def _resolve_files(
    spark: SparkSession, out_dir: str, snap: dict, buckets=None,
) -> tuple[list[str], list[str]]:
    """(live, archived) absolute paths for the snapshot's spans files,
    optionally restricted to a bucket set. A relpath still
    present live is read in place (archive links are the same bytes);
    otherwise the archive copy is used; neither → the snapshot has been
    expired out from under the caller → loud error."""
    want = None
    if buckets is not None:
        want = {int(b) for b in buckets}
    live, archived, missing = [], [], []
    for rel, _ in snap["files"]:
        if want is not None and bucket_of(rel) not in want:
            continue
        lp = posixpath.join(out_dir, rel)
        ap = posixpath.join(out_dir, ARCHIVE_DIR, rel)
        if tablefs.exists(spark, lp):
            live.append(lp)
        elif tablefs.exists(spark, ap):
            archived.append(ap)
        else:
            missing.append(rel)
    if missing:
        raise ValueError(
            f"snapshot {snap['snapshot_id']} references {len(missing)} "
            f"expired file(s) (e.g. {missing[0]!r}); expire_snapshots "
            "removed them — read a retained snapshot instead"
        )
    return live, archived


def read_snapshot(
    spark: SparkSession,
    out_dir: str,
    snapshot_id: int | None = None,
    buckets=None,
) -> DataFrame:
    """Time-travel read: the table exactly as of ``snapshot_id`` (default
    HEAD). Partition-column recovery (``bucket=N``) works on both the
    live and archived sides via ``basePath``, so bucket-pruned point
    lookups prune identically on historical reads. A snapshot with no
    files (or none in the requested buckets) reads as an empty
    DataFrame."""
    snap = (
        load_head(spark, out_dir) if snapshot_id is None
        else load_snapshot(spark, out_dir, snapshot_id)
    )
    live, archived = _resolve_files(spark, out_dir, snap, buckets)
    return read_tree(spark, out_dir, live).unionByName(
        read_tree(spark, posixpath.join(out_dir, ARCHIVE_DIR), archived)
    )


# ------------------------------------------------------------------- diff
def _buckets_of(snap: dict) -> dict[int, set[str]]:
    out: dict[int, set[str]] = {}
    for rel, _ in snap["files"]:
        b = bucket_of(rel)
        if b is not None:
            out.setdefault(b, set()).add(rel)
    return out


def _changed_buckets(a: dict, b: dict) -> list[int]:
    """Buckets whose file sets differ between two manifests."""
    ba, bb = _buckets_of(a), _buckets_of(b)
    return sorted(k for k in (set(ba) | set(bb)) if ba.get(k) != bb.get(k))


def snapshot_changes(
    spark: SparkSession, out_dir: str, from_id: int, to_id: int
) -> DataFrame:
    """Row-level CDC between two snapshots: (doc_id, bucket, change) with
    change ∈ insert | delete | update. Only buckets whose FILE SETS differ
    between the manifests are read — an upsert touching 3 of 4096 buckets
    diffs 3 buckets of data, independent of table size. Within a changed
    bucket, rows pair on doc_id and compare by a span-content digest (the
    same doc_id+spans hash the lineage checksum xors), so a bucket rewrite
    that preserves content (compaction) yields zero change rows."""
    changed = _changed_buckets(
        load_snapshot(spark, out_dir, from_id), load_snapshot(spark, out_dir, to_id)
    )
    # a side may own no file in the changed buckets (an insert into a new
    # bucket, a delete emptying one): it reads as an empty relation
    old, new = (
        read_snapshot(spark, out_dir, sid, buckets=changed).select(
            "doc_id",
            "bucket",
            F.xxhash64("doc_id", F.to_json("spans_out")).alias("digest"),
        )
        for sid in (from_id, to_id)
    )
    j = old.alias("o").join(
        new.alias("n"), on="doc_id", how="full_outer"
    )
    return j.select(
        F.col("doc_id"),
        F.coalesce(F.col("n.bucket"), F.col("o.bucket")).alias("bucket"),
        F.when(F.col("o.digest").isNull(), F.lit("insert"))
        .when(F.col("n.digest").isNull(), F.lit("delete"))
        .when(F.col("o.digest") != F.col("n.digest"), F.lit("update"))
        .alias("change"),
    ).where(F.col("change").isNotNull())


# --------------------------------------------------------------- rollback
def rollback(spark: SparkSession, out_dir: str, to_id: int) -> dict:
    """Restore the live table to snapshot ``to_id`` and commit the result
    as a NEW snapshot (op=rollback, files = the target's manifest) — the
    log stays append-only, so the rolled-back-over snapshots remain
    readable and a rollback can itself be rolled back.

    Protocol: verify every target file is reachable (live or archived)
    BEFORE touching anything; archive-then-delete live files the target
    doesn't list; re-link missing target files from the archive. All
    metadata/link operations — no data pass, any table size. The
    commit records the target's ``num_buckets``: rolling back across a
    rebucket restores the layout the target's files were written under."""
    head = open_table(spark, out_dir, reconcile=False)
    target = load_snapshot(spark, out_dir, to_id)
    n_removed, n_restored = _restore_tree(
        spark, out_dir, target["files"], archive_removed=True,
        unreachable=f"cannot roll back to snapshot {to_id}: {{n}} file(s) "
        "expired (e.g. {rel!r}); table untouched",
    )
    snap = commit_snapshot(
        spark, out_dir, head, "rollback", target["files"],
        lineage=target["lineage"],
        num_buckets=target["num_buckets"],
        summary={"to": to_id, "restored": n_restored, "removed": n_removed},
    )
    return {
        "snapshot_id": snap["snapshot_id"],
        "rolled_back_to": to_id,
        "restored": n_restored,
        "removed": n_removed,
    }


# ------------------------------------------------------------------ clone
def clone_table(spark: SparkSession, src_dir: str, dst_dir: str) -> dict:
    """Zero-copy clone of a snapshot-committed table — the CLONE TABLE /
    snapshot-export primitive for sandboxing a production table: every
    tracked data file, archive file, snapshot manifest and tag is
    hard-linked (local) or copied (a URI scheme) into
    ``dst_dir``. Data files are immutable (writers always create new
    part files; nothing mutates in place), so clone and source share
    bytes safely: mutations on either side add/remove NAMES, never
    rewrite shared content. Cost: O(files) metadata ops, zero data
    locally. The clone is a full first-class table — its own history,
    its own future."""
    load_head(spark, src_dir)  # refuses a directory with no table
    if tablefs.exists(spark, posixpath.join(dst_dir, SNAP_DIR)):
        raise ValueError(f"{dst_dir!r} already holds a table; refusing")

    data = [rel for rel, _ in _list_tracked(spark, src_dir)] + [
        f"{ARCHIVE_DIR}/{rel}"
        for rel, _ in tablefs.list_parquet_files(spark, posixpath.join(src_dir, ARCHIVE_DIR))
    ]
    meta = [
        f"{SNAP_DIR}/{n}"
        for n in tablefs.list_names(spark, posixpath.join(src_dir, SNAP_DIR))
        if n.endswith(".json")
    ]
    # metadata files are shared safely too: every metadata write publishes
    # a new file (tablefs.write_text), none rewrites one in place
    for rel in data + meta:
        tablefs.link(spark, posixpath.join(src_dir, rel), posixpath.join(dst_dir, rel))
    return {
        "src": src_dir,
        "dst": dst_dir,
        "files": len(data),
        "snapshots": len(meta),
    }


# ----------------------------------------------------------------- expiry
def expire_snapshots(
    spark: SparkSession, out_dir: str, keep_last: int = 2
) -> dict:
    """Drop all but the newest ``keep_last`` snapshot manifests (tagged
    snapshots are always retained — delete the tag to release them), then
    delete every archived file no RETAINED manifest references — the
    vacuum that bounds history storage. Live files are never candidates
    (the archive holds only retired relpaths; a relpath both live and
    archived is the same inode locally and is dropped from the archive
    only when unreferenced, which cannot orphan the live copy)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")

    ids = _snapshot_ids(spark, out_dir)
    tagged = set(list_tags(spark, out_dir).values())
    keep_set = set(ids[-keep_last:]) | (tagged & set(ids))
    drop = [i for i in ids if i not in keep_set]
    keep = [i for i in ids if i in keep_set]
    referenced: set[str] = set()
    # Retained DELTA manifests may resolve through bases about to drop:
    # rewrite them as full listings first (materialize while every base
    # still exists — a representation change only; id, files, lineage,
    # metadata are bit-identical after load_snapshot). Crash between
    # rewrite and drop is harmless: rerun re-materializes (no-op) and
    # re-drops. One ``loaded`` memo reads each manifest once.
    loaded: dict = {}
    for sid in keep:
        snap = load_snapshot(spark, out_dir, sid, loaded)
        if "base_id" in snap:
            full = {k: v for k, v in snap.items()
                    if k not in ("base_id", "add", "remove", "lineage_remove")}
            tablefs.write_text(spark, _snap_path(out_dir, sid), json.dumps(full))
        referenced.update(rel for rel, _ in snap["files"])

    arch_root = posixpath.join(out_dir, ARCHIVE_DIR)
    n_files = 0
    for rel, _ in tablefs.list_parquet_files(spark, arch_root):
        if rel not in referenced:
            tablefs.delete(spark, posixpath.join(arch_root, rel))
            n_files += 1
    for sid in drop:
        tablefs.delete(spark, _snap_path(out_dir, sid))
    return {
        "expired_snapshots": len(drop),
        "kept": keep,
        "archive_files_removed": n_files,
    }
