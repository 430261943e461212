"""The exactly-once OP-LEDGER protocol shared by every persisted
mutable layout in the repo (BM25 batch index, sharded vector layout).

One mutation = one op id:

- every op writes ONLY its own ``_mb=<id>`` partitions, then drops a
  commit marker file under ``{path}/_ops/<id>``. A vector op whose
  rows the driver holds lands as one staged file (``write_table_dir``:
  written under a hidden ``_staging/`` path, then renamed into
  ``_mb=<id>/``, so that directory only ever holds complete files);
  every other op lands via dynamic partition overwrite
  (``write_op_partitions``). Both REPLACE what the id held, so
  re-running a crashed op with the same id is a pure self-overwrite —
  idempotent by construction;
- readers exclude any on-disk op id with no marker (a NOT-IN over the
  tiny in-flight set — never an ``isin(committed)`` whose literal list
  grows per op), so a half-written op is invisible;
- the base build lands under ``_mb = BASE_EPOCH = -1`` (op ids start
  at 0, so the base can never collide with an op), and ``as_of=N``
  snapshot reads are a RANGE predicate on the ``_mb`` partition
  column — time travel with no replay and no extra storage.

Everything else here is metadata-only filesystem work (listings,
globs, marker files) through the Hadoop FS API, so it behaves
identically on local paths and object-store URIs, and NEVER runs a
Spark job just to learn what's on disk.

**Single-writer contract**: the ledger assumes AT MOST ONE mutator per
layout at a time — auto-allocated op ids plus purge-before-write mean
two concurrent mutators (e.g. parallel ``index-upsert`` CLI runs) can
claim the same id and purge each other's in-flight partitions,
corrupting an op the other writer then marks committed. Concurrent
READERS are always safe (committed ops are immutable; a half-written
op is invisible). Mutation entry points guard the contract with
``writer_lock`` — a best-effort atomic-create lock file under
``{path}/_ops`` that turns a same-layout write race into a loud
``ConcurrentWriterError`` instead of silent corruption. Best-effort
because create-no-overwrite is atomic on local FS and HDFS but only
advisory on eventual-consistency object stores, and a kill -9'd
writer leaves a stale lock (the error message says which file to
remove). Serialize mutations externally (one orchestrator per layout)
rather than leaning on the lock as a scheduler.

**Create-marker-first allocation** (``claim_op_id``): before any purge
or write, the chosen op id is claimed by atomically creating
``_ops/_alloc.<id>.<gen>`` — two mutators that raced to the same
allocation decision serialize on that one create, and the loser errors
having touched NOTHING (the lock alone could not close the window once
both writers were past it). Claim generations make crashed ids
reclaimable without a delete+recreate race; commit deletes the id's
claims. The claim is an allocation arbiter, not a lease — liveness
stays the lock's (and the orchestrator's) job.

**Reserved ids** (``reserve_op_id``): a stream batch records its op id
in the stream checkpoint before it lands (``streaming/sink``), so that
id must stay its own across a crash: ``_ops/_reserve.<id>.<owner>``
keeps it from every other writer (``claim_op_id`` neither reclaims
nor allocates a reserved id) until its commit drops the reservation.
An in-place compaction carries reservations into the compacted tree
with the stream checkpoint.

**Compaction policy**: mutation state costs every search one shipped
id per contested id — measured linear in mutation volume (+6.5 s at
1.58M ids, SCALE.md) and reset by compaction. Readers warn past
``CONTESTED_WARN_ABOVE`` (``warn_contested_size``), searches refuse
past ``CONTESTED_SEARCH_MAX`` (``refuse_contested_above_bound``), and
the mutation CLIs accept ``--compact-above N`` to fold the layout in
place (``vector_ops.compact_in_place``, write-new-then-swap) when the
contested count exceeds the budget.

**The layout memo** (``memo``): every piece of state the engine reads
from a layout is memoized in ONE least-recently-used map of at most
``MEMO_ENTRIES`` entries, each stored with a validity token (a changed
token rebuilds the entry) and an optional on-evict callback. Keys and
tokens:

- ledger state (``ledger_entry``: mutation winners, live frames,
  contested counts): key (layout, ``as_of``, context), token the Spark
  application plus the commit-marker set, or what the state was
  derived from; eviction unpersists the entry's local checkpoint;
- data read from files (``memo_by_files``/``read_dir_memo``: the
  centroid matrix, the codec sidecars, the tag and BM25 layout
  constants): key (kind, (path, size, mtime) of each data file), no
  token — every write names new files, so a rewrite by any process
  misses;
- read schemas (``read_parquet``: ``ann.open_probed_shards``' shards
  directory, ``catalog.load_table``'s fixture tables): key (table
  directory, ``"schema"``), token the shards directory's mtime
  (``None`` for the immutable fixtures). A commit lands outside ``shards/`` and forgets
  only the ledger state, so the first search after a mutation runs no
  footer-inference job.

``forget(path)`` drops every entry keyed by ``path``. Each writer of
a layout calls it for the layout's ledger state (``mark_committed``,
the graph ledger purge) and for its shards schema when it rewrites
the shards (``sharding.write_shards``, ``vector_ops.compact_in_place``).
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import threading
import uuid
from collections import OrderedDict
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BASE_EPOCH = -1


# (JVM view, its org.apache.hadoop.fs.Path class): py4j resolves a
# class name with one round trip per package segment, so ``fs_path``
# resolves it once per gateway
_path_class: list = [None, None]


def fs_path(spark, p: str):
    """Hadoop FileSystem + Path for ``p`` — works on local paths and
    object-store URIs alike."""
    jvm = spark._jvm
    if _path_class[0] is not jvm:
        _path_class[:] = [jvm, jvm.org.apache.hadoop.fs.Path]
    jpath = _path_class[1](p)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def path_exists(spark, p: str) -> bool:
    fs, jp = fs_path(spark, p)
    return fs.exists(jp)


def glob_op_ids(spark, pattern: str) -> set[int]:
    """Op ids named by ``_mb=<id>`` partition dirs matching a glob —
    a directory listing, not a Spark job."""
    fs, jp = fs_path(spark, pattern)
    out: set[int] = set()
    for st in fs.globStatus(jp) or []:
        name = st.getPath().getName()
        out.add(int(name.split("=", 1)[1]))
    return out


def commit_markers(spark, path: str) -> dict[int, int]:
    """op id → modification time of its commit marker under
    ``{path}/_ops`` (one directory listing)."""
    fs, jp = fs_path(spark, f"{path}/_ops")
    if not fs.exists(jp):
        return {}
    return {
        int(st.getPath().getName()): int(st.getModificationTime())
        for st in fs.listStatus(jp)
        if st.getPath().getName().isdigit()  # skip _writer.lock etc.
    }


def committed_ops(spark, path: str) -> set[int]:
    """Ids with a commit marker under ``{path}/_ops``."""
    return set(commit_markers(spark, path))


def mark_committed(spark, path: str, op_id: int) -> None:
    forget(path)
    fs, jp = fs_path(spark, f"{path}/_ops/{op_id}")
    fs.mkdirs(jp.getParent())
    fs.create(jp, True).close()
    # the commit marker supersedes the id's claim and reservation
    # markers — drop them so those listings stay O(in-flight ops),
    # never O(history)
    gfs, gp = fs_path(
        spark, f"{path}/_ops/{{{ALLOC_PREFIX},{RESERVE_PREFIX}}}{int(op_id)}.*"
    )
    for st in gfs.globStatus(gp) or []:
        gfs.delete(st.getPath(), False)


class ConcurrentWriterError(RuntimeError):
    """A second mutator raced the op ledger's single-writer contract."""


WRITER_LOCK = "_writer.lock"

# In-place compaction's swap lock lives BESIDE the layout, not inside
# it: the swap renames the whole tree, so an in-tree lock travels out
# with the first rename and leaves {base} unguarded mid-swap. The
# sibling marker survives both renames; writer_lock refuses while it
# exists.
COMPACT_LOCK_SUFFIX = ".compact.lock"


def compact_lock_jpath(spark, path: str):
    return fs_path(spark, path.rstrip("/") + COMPACT_LOCK_SUFFIX)


def compact_marker_exists(spark, path: str) -> bool:
    fs, jp = compact_lock_jpath(spark, path)
    return fs.exists(jp)


@contextlib.contextmanager
def writer_lock(spark, path: str, *, owner: str = "", in_compaction: bool = False):
    """Best-effort single-writer guard for one mutation (see module
    docstring): atomically create ``{path}/_ops/_writer.lock``
    (create-no-overwrite — atomic on local FS and HDFS), yield, delete
    on exit (including on exception — only a hard process kill leaves
    the lock behind). A held lock raises ``ConcurrentWriterError``
    naming the file so an operator can remove a stale one.

    An in-place compaction additionally holds the SIBLING
    ``{path}.compact.lock`` marker across its rename-swap window (when
    the tree — and any in-tree lock — is renamed away); this guard
    refuses while that marker exists, checking it both BEFORE and
    AFTER the atomic lock create. The after-check closes the race
    where the tree was renamed out between the two steps: our
    ``mkdirs`` just created a phantom ``{path}/_ops`` that would make
    the compactor's swap-in rename nest, so the abort path deletes the
    lock file and then the phantom dirs (non-recursive — a real
    layout's non-empty dirs survive). ``in_compaction=True`` skips the
    marker checks: that caller IS the marker holder, using the in-tree
    lock only to detect a mutation already in flight."""
    base = path.rstrip("/")

    def _compact_err():
        return ConcurrentWriterError(
            f"an in-place compaction holds {base}{COMPACT_LOCK_SUFFIX} — "
            "the layout may be mid-swap; wait for it to finish (or remove "
            "the marker if that compactor crashed hard)"
        )

    if not in_compaction and compact_marker_exists(spark, base):
        raise _compact_err()
    fs, jp = fs_path(spark, f"{base}/_ops/{WRITER_LOCK}")
    fs.mkdirs(jp.getParent())
    try:
        out = fs.create(jp, False)
        if owner:
            out.writeBytes(owner)
        out.close()
    except Exception:
        if fs.exists(jp):
            raise ConcurrentWriterError(
                f"another writer holds {base}/_ops/{WRITER_LOCK} — the op "
                "ledger is single-writer per layout; wait for it to finish "
                "(or remove the lock file if that writer crashed hard)"
            ) from None
        raise
    if not in_compaction and compact_marker_exists(spark, base):
        fs.delete(jp, False)
        for d in (jp.getParent(), jp.getParent().getParent()):
            try:
                fs.delete(d, False)  # only succeeds on the phantom
            except Exception:
                pass
        raise _compact_err()
    try:
        yield
    finally:
        fs.delete(jp, False)


# Query-time contested-set guardrail: mutation resolution ships one
# id per mutated id with every search, and the 20M campaign measured
# that cost LINEAR in mutation volume — +1.4 s/search at 158k contested
# ids, +6.5 s at 1.58M, reset to baseline by compaction (SCALE.md
# "Filtered-track serving"). Above this many contested ids every search
# emits a UserWarning naming the fix; tune per deployment if your
# latency budget tolerates more.
CONTESTED_WARN_ABOVE = 500_000

# Hard bound on the contested ids one search ships to its candidate
# scan (the dead ids, collected once per ledger state by
# ``vector_ops.mutation_state``, broadcast with every search). The cost
# is linear — +6.5 s per search at 1.58M ids (SCALE.md) — so past 2M a
# search costs more than any serving budget and is refused loudly.
# Compaction and the ``--compact-above`` count read the same state and
# are not bounded: they are what resets the set.
CONTESTED_SEARCH_MAX = 2_000_000


class LedgerEntry(NamedTuple):
    """State derived from one ledger state of one layout."""

    count: int  # contested ids
    state: object  # the context's state, e.g. vector_ops.MutationState
    checkpoint: DataFrame | None  # the local checkpoint ``state`` reads


# key -> (token, value, on_evict), least recently used first: the one
# memo of state read from a layout (see the module docstring). 64
# entries hold the ledger state, sidecars and schemas of several
# layouts at once
_memo: OrderedDict[tuple, tuple] = OrderedDict()
_memo_lock = threading.Lock()
MEMO_ENTRIES = 64


def memo(key: tuple, token, build, on_evict=None):
    """``build()``, memoized under ``key`` while ``token`` is unchanged.
    A hit refreshes the entry; a changed token rebuilds it in place.
    Past ``MEMO_ENTRIES`` the least recently used entry is dropped and
    ``on_evict(value)`` run on it. ``build`` runs outside the lock, so
    two threads that miss together may both build."""
    with _memo_lock:
        entry = _memo.get(key)
        if entry is not None and entry[0] == token:
            _memo.move_to_end(key)
            return entry[1]
    value = build()
    with _memo_lock:
        _memo[key] = (token, value, on_evict)
        _memo.move_to_end(key)
        evicted = [_memo.popitem(last=False)[1] for _ in range(len(_memo) - MEMO_ENTRIES)]
    for _, old, evict in evicted:
        if evict is not None:
            evict(old)
    return value


def forget(path: str) -> None:
    """Drop every entry keyed by the layout (or table) at ``path``,
    leaving checkpoints to Spark's ContextCleaner: a search built before
    a mutation may still read them."""
    base = path.rstrip("/")
    with _memo_lock:
        for k in [k for k in _memo if k[0] == base]:
            del _memo[k]


def read_parquet(reader, table: str, token, *paths) -> DataFrame:
    """``reader.parquet(*paths)`` with the read schema of ``table`` kept
    in the memo under ``(table, "schema")`` while ``token`` is
    unchanged: a bare parquet read runs a footer-inference job on the
    driver before the first data byte, and a read given the schema runs
    none. Schema only, never rows."""
    inferred = []

    def infer():
        inferred.append(reader.parquet(*paths))
        return inferred[0].schema

    schema = memo((table, "schema"), token, infer)
    return inferred[0] if inferred else reader.schema(schema).parquet(*paths)


def _unpersist_checkpoint(entry: LedgerEntry) -> None:
    if entry.checkpoint is not None:
        entry.checkpoint._jdf.queryExecution().logical().rdd().unpersist(False)


def ledger_entry(
    spark,
    path: str,
    context: str,
    build,
    *,
    as_of: int | None = None,
    derived_from: tuple | None = None,
) -> LedgerEntry:
    """The memoized ``context`` state of ``path`` under its current
    ledger token: the Spark application (checkpoints live in it) and
    the (op id, commit-marker mtime) set filtered by ``as_of``, from one
    ``_ops`` listing — so a foreign commit busts it the moment its marker
    is visible, and a foreign compaction too (op ids restart at 0 after
    ``compact_in_place``; the mtimes differ). State derived from other
    state that already tracks the ledger passes what it was derived
    from as ``derived_from``, which replaces the listing. On a miss
    ``build()`` returns (count, state, checkpoint). An entry evicted
    from the memo has its checkpoint unpersisted."""
    base = path.rstrip("/")
    token = spark.sparkContext.applicationId, derived_from
    if derived_from is None:
        token += (
            frozenset(
                (i, t)
                for i, t in commit_markers(spark, base).items()
                if as_of is None or i <= as_of
            ),
        )
    return memo(
        (base, as_of, context), token, lambda: LedgerEntry(*build()),
        _unpersist_checkpoint,
    )


def check_contested(
    spark, path: str, latest, context: str, *, as_of: int | None = None
) -> bool:
    """Size telemetry for an op-sized winners DataFrame, True when it is
    EMPTY; counted once per ledger state (``ledger_entry``)."""
    n = ledger_entry(
        spark, path, context, lambda: (latest.count(), None, None), as_of=as_of
    ).count
    warn_contested_size(n, path.rstrip("/"), context)
    return n == 0


def warn_contested_size(n: int, path: str, context: str) -> None:
    """One actionable warning when a layout's uncompacted mutation
    state has outgrown sanity — turns the silent +6.5 s/search the 20M
    campaign measured into a signal."""
    if n > CONTESTED_WARN_ABOVE:
        import warnings

        warnings.warn(
            f"{context}: {n:,} contested ids in {path} — mutation "
            f"resolution ships one id per contested id with EVERY "
            f"search (measured +6.5 s/search at 1.58M, SCALE.md); "
            f"compact the layout (CLI: index-compact, or pass "
            f"--compact-above to the mutation commands) to reset it",
            stacklevel=3,
        )


def refuse_contested_above_bound(n: int, path: str) -> None:
    """Fail a search of the layout at ``path`` whose ``n`` contested
    ids exceed ``CONTESTED_SEARCH_MAX``; one comparison otherwise."""
    if n > CONTESTED_SEARCH_MAX:
        raise ValueError(
            f"{n:,} contested ids in {path.rstrip('/')} exceed "
            f"CONTESTED_SEARCH_MAX = {CONTESTED_SEARCH_MAX:,}: every search "
            "would ship them all (measured +6.5 s/search at 1.58M, SCALE.md). "
            "Compact first (CLI: index-compact, or pass --compact-above to "
            "the mutation commands), then search"
        )


ALLOC_PREFIX = "_alloc."
RESERVE_PREFIX = "_reserve."


def _ops_markers(spark, path: str, prefix: str) -> list[tuple[int, str]]:
    """(op id, rest of the name) of every ``{path}/_ops/<prefix><id>.<rest>``
    marker — one directory listing."""
    fs, jp = fs_path(spark, f"{path}/_ops")
    if not fs.exists(jp):
        return []
    out = []
    for st in fs.listStatus(jp):
        name = st.getPath().getName()
        if name.startswith(prefix):
            op_s, _, rest = name[len(prefix):].partition(".")
            if op_s.isdigit():
                out.append((int(op_s), rest))
    return out


def claimed_op_ids(spark, path: str) -> dict[int, int]:
    """op id → highest claim GENERATION among the
    ``{path}/_ops/_alloc.<id>.<gen>`` markers — ids some writer claimed
    but has not (yet) committed. One directory listing; commit deletes
    a claim, so this stays O(in-flight + crashed), never O(history)."""
    out: dict[int, int] = {}
    for op, gen_s in _ops_markers(spark, path, ALLOC_PREFIX):
        if gen_s.isdigit():
            out[op] = max(int(gen_s), out.get(op, -1))
    return out


def reserved_op_ids(spark, path: str) -> set[int]:
    """Ids under a ``{path}/_ops/_reserve.<id>.<owner>`` marker: recorded
    by a stream batch (``reserve_op_id``) and not committed yet."""
    return {op for op, _ in _ops_markers(spark, path, RESERVE_PREFIX)}


def reserve_op_id(spark, path: str, owner: str) -> int:
    """Allocate an op id that stays ``owner``'s until it commits, for a
    writer that records the id before it lands (a stream batch, see
    ``streaming/sink``): max+1 over every committed, claimed and
    reserved id, kept by atomically creating
    ``_ops/_reserve.<id>.<owner>`` under the writer lock. No other
    writer's ``claim_op_id`` reclaims or allocates it, so a batch
    writer that runs while the owner is down never commits under it.
    Landing the id claims and purges it like any explicit op id;
    ``mark_committed`` drops the reservation. ``owner``: a token that
    is unique per recording (no dots)."""
    with writer_lock(spark, path, owner="reserve_op_id"):
        seen = (
            committed_ops(spark, path)
            | set(claimed_op_ids(spark, path))
            | reserved_op_ids(spark, path)
        )
        op = max(seen) + 1 if seen else 0
        fs, jp = fs_path(spark, f"{path}/_ops/{RESERVE_PREFIX}{op}.{owner}")
        fs.create(jp, False).close()
    return op


def holds_reservation(spark, path: str, op_id: int, owner: str) -> bool:
    """True while ``owner``'s reservation of ``op_id`` stands: the id
    has not committed since ``reserve_op_id``."""
    return path_exists(spark, f"{path}/_ops/{RESERVE_PREFIX}{int(op_id)}.{owner}")


def carry_reservations(spark, src: str, dst: str) -> None:
    """Recreate every reservation marker of the layout ``src`` under
    ``dst`` (an in-place compaction's new tree), so a reserved id stays
    reserved across the swap."""
    fs, jp = fs_path(spark, f"{src}/_ops/{RESERVE_PREFIX}*")
    for st in fs.globStatus(jp) or []:
        dfs, djp = fs_path(spark, f"{dst}/_ops/{st.getPath().getName()}")
        dfs.create(djp, True).close()


def claim_op_id(
    spark,
    path: str,
    on_disk: set[int],
    committed: set[int],
    *,
    op_id: int | None = None,
) -> int:
    """CREATE-MARKER-FIRST op-id allocation: decide the id (lowest
    crashed — reclaim, safe because the new op purges the crashed
    attempt's partitions before writing — else max+1, with
    CLAIMED-but-byteless crashed ids also reclaimable; a reserved id,
    ``reserve_op_id``, is neither), then
    atomically create ``_ops/_alloc.<id>.<gen>`` BEFORE anything is
    purged or written. Two mutators that race to the same (id, gen)
    decision serialize on that one atomic create: the loser raises
    ``ConcurrentWriterError`` having touched nothing — no cross-purge,
    no half-op under the winner's id (the failure mode a lock file
    alone could not close once both writers were past it, e.g. on an
    advisory object store).

    Generations make CRASH RECLAIM claimable without deleting the stale
    marker (delete+recreate would race): reclaiming a crashed id claims
    the next generation atomically. A gen bump is a deliberate
    takeover, so liveness of the PREVIOUS claimant is still the
    ``writer_lock``'s job (the claim closes the simultaneous-allocation
    window; it is not a lease). ``op_id``: explicit id (replay) — the
    claim is still taken so a concurrent replay of the same id loses
    loudly. Returns the claimed id."""
    claims = claimed_op_ids(spark, path)
    if op_id is None:
        reserved = reserved_op_ids(spark, path)
        crashed = sorted((set(on_disk) | set(claims)) - set(committed) - reserved)
        if crashed:
            op = crashed[0]
        else:
            seen = set(on_disk) | set(committed) | set(claims) | reserved
            op = max(seen) + 1 if seen else 0
    else:
        op = int(op_id)
    gen = claims.get(op, -1) + 1
    fs, jp = fs_path(spark, f"{path}/_ops/{ALLOC_PREFIX}{op}.{gen}")
    fs.mkdirs(jp.getParent())
    try:
        fs.create(jp, False).close()
    except Exception:
        if fs.exists(jp):
            raise ConcurrentWriterError(
                f"op id {op} (claim generation {gen}) was claimed by a "
                f"concurrent writer — {path}/_ops/{ALLOC_PREFIX}{op}.{gen} "
                "already exists. The op ledger is single-writer per "
                "layout; this writer purged and wrote NOTHING."
            ) from None
        raise
    return op


def purge_op_dirs(spark, patterns: list[str]) -> None:
    """Remove every partition dir matching the given globs — run
    before an op (re)writes, so landing at a previously-crashed id can
    never leave the old attempt's partitions mixed under a
    now-committed id. Metadata-only FS ops."""
    for pattern in patterns:
        fs, jp = fs_path(spark, pattern)
        for st in fs.globStatus(jp) or []:
            fs.delete(st.getPath(), True)


def staging_dir(directory: str) -> str:
    """Where ``write_table_dir`` stages the file of ``directory``: under
    a ``_staging/`` sibling, a name Spark's file listing skips, so a
    staged file is never read."""
    parent, name = directory.rstrip("/").rsplit("/", 1)
    return f"{parent}/_staging/{name}"


def write_parquet_file(spark, table, path: str) -> None:
    """Write the Arrow ``table`` as the one parquet file ``path`` through
    the Hadoop FS API, from the driver: pyarrow encodes it into a local
    temp file that Hadoop copies into place (at 100k rows × 64 dims about
    3× faster than shipping the encoded bytes over py4j)."""
    import pyarrow.parquet as pq

    fs, jp = fs_path(spark, path)
    with tempfile.TemporaryDirectory(prefix="parquet_file_") as tmp:
        local = os.path.join(tmp, "part.parquet")
        pq.write_table(table, local)
        fs.copyFromLocalFile(False, True, _path_class[1](f"file://{local}"), jp)


def write_table_dir(spark, table, directory: str, schema) -> None:
    """Replace ``directory`` with a directory holding ONE parquet file of
    the Arrow ``table``, from the driver with no Spark job. The table is
    cast to the Spark ``schema`` its readers pass to
    ``spark.read.schema``, so a type drift fails here and not at the
    next read. The file is written under ``staging_dir(directory)``
    (``write_parquet_file``), and the staged directory then replaces
    ``directory`` by one rename, so ``directory`` only ever holds
    complete files. A crash leaves at most a staged directory, which
    the next write (or an op purge) removes."""
    from pyspark.sql.pandas.types import to_arrow_schema

    table = table.select(schema.names).cast(to_arrow_schema(schema))
    stage = staging_dir(directory)
    fs, jdir = fs_path(spark, directory)
    _, jstage = fs_path(spark, stage)
    fs.delete(jstage, True)
    write_parquet_file(spark, table, f"{stage}/part-00000-{uuid.uuid4()}.parquet")
    fs.delete(jdir, True)
    if not fs.rename(jstage, jdir):
        raise IOError(f"rename {stage} -> {directory} failed")


def write_op_partitions(df: DataFrame, target: str, cols: list[str]) -> None:
    """Land one op's rows via DYNAMIC partition overwrite, in one Spark
    job: only the partitions present in ``df`` (its own ``_mb``, plus
    any secondary partition dirs it touches) are replaced — a re-run of
    the same op id is a pure overwrite of itself, never an
    append-duplicate. The ops whose rows the driver holds as an Arrow
    table land through ``write_table_dir`` instead; this path serves
    the ops whose rows a Spark plan computes (a DataFrame of ids to
    delete, tag, graph and BM25 ops).

    Each partition dir gets ONE file per op. A batch the driver built
    (every leaf of its plan a ``LocalRelation``) is coalesced into one
    task: no shuffle, the write is the op's only Spark job. Any other
    ``df`` is REPARTITIONED onto the partition columns first: without
    it every upstream task writes its own file into every dir it has
    rows for — a 100k-row upsert over 1000 shard dirs from 32 shuffle
    partitions landed 32,000 one-row files, and every later ledger
    read paid ~12 s of listing + footer opens (measured, 2M campaign)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    local = all(
        leaves.apply(i).getClass().getSimpleName() == "LocalRelation"
        for i in range(leaves.size())
    )
    (
        (df.coalesce(1) if local else df.repartition(*[F.col(c) for c in cols]))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(target)
    )


def file_stamps(statuses) -> tuple:
    """Sorted (path, size, mtime) of the data files among Hadoop
    ``FileStatus``es; files named ``_*``/``.*`` (markers, checksums)
    are not data."""
    return tuple(
        sorted(
            (str(st.getPath()), int(st.getLen()), int(st.getModificationTime()))
            for st in statuses
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))
        )
    )


def memo_by_files(kind: str, stamps: tuple, read):
    """``read()``, memoized under ``(kind, stamps)``: every Spark write
    names its files anew, so a rewritten table misses, and a
    byte-identical copy that keeps the mtimes (``copy_dir``) hits. No
    stamps (no data file seen) reads every time."""
    if not stamps:
        return read()
    return memo((kind, stamps), None, read)


def read_dir_memo(spark, path: str, kind: str, read):
    """``memo_by_files`` for the flat directory ``path``: one listing,
    no Spark job on a hit."""
    fs, jp = fs_path(spark, path)
    return memo_by_files(kind, file_stamps(fs.listStatus(jp)), read)


def copy_dir(spark, src: str, dst: str) -> None:
    """Replace ``dst`` with a copy of the directory tree ``src`` through
    the Hadoop FS API (no Spark job); each file directly under ``src``
    keeps its modification time, so a byte-identical copy of a sidecar
    keeps its ``memo_by_files`` key."""
    jvm = spark._jvm
    sfs, jsrc = fs_path(spark, src)
    dfs, jdst = fs_path(spark, dst)
    dfs.delete(jdst, True)
    if not jvm.org.apache.hadoop.fs.FileUtil.copy(
        sfs, jsrc, dfs, jdst, False, True, spark._jsc.hadoopConfiguration()
    ):
        raise IOError(f"copy {src} -> {dst} failed")
    for st in sfs.listStatus(jsrc):
        if st.isFile():
            target = jvm.org.apache.hadoop.fs.Path(jdst, st.getPath().getName())
            dfs.setTimes(target, st.getModificationTime(), -1)
