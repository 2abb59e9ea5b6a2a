"""Manifest-committed parquet table: atomic snapshots without a
lakehouse dependency (ROADMAP item 1, built from scratch — no
Delta/Iceberg jars ship in this container).

The commit protocol every table format shares, reduced to its core:

  table_dir/
    batch-<uuid>/           immutable parquet data, one dir per commit
    _manifests/
      v00000001.json        {"dirs": [...], "op": "...", "parent": N-1}
      v00000002.json

A snapshot IS a manifest: the list of batch directories visible at that
version. Writers stage a new batch directory (invisible — readers only
see manifest-listed dirs), then publish by hard-linking a fully-written
temp manifest to ``v<N+1>.json``; ``os.link`` is atomic AND exclusive
on POSIX (EEXIST if the name is taken), so readers observe either the
old or the new snapshot, never a torn state, and two racing writers
cannot both land on the same version — exactly one link succeeds, the
loser gets CommitConflict and retries from the fresh head (optimistic
concurrency, the Delta/Iceberg model). ``os.rename`` would NOT work as
the CAS: rename-to-existing silently replaces on POSIX, so the name
check must be the link itself. A crash before the link leaves only an
unreferenced directory for ``vacuum()`` to sweep.

What this buys over bare ``df.write.mode("append")``:
  * readers never see half-written batches (snapshot isolation);
  * ``overwrite`` is a metadata operation — the new manifest simply
    stops listing old dirs; the data stays until vacuum, which is what
    makes time travel (``read(version=...)``) and instant rollback
    free;
  * commits carry the watermark in the same atomic rename, closing the
    crash window between "data written" and "state committed" that the
    sidecar WatermarkStore necessarily leaves open.

Scale: manifests hold directory names, not per-file lists — O(commits)
bytes, pruned by vacuum; reads hand Spark a list of paths and planning
proceeds exactly as for any multi-dir parquet table (partition pruning
and pushdown unaffected).

One commit path: every version goes through ``ManifestedTable._commit``.
A write op states only the dirs its new version lists; ``_commit``
fills in each listed dir's zone map (``stats``) and bloom by one rule —
carried from the head when the head lists the dir, else computed once
from the dir's staged files (batch dirs are immutable, so both give the
same value) — and publishes them with the retrying CAS.  So a manifest
carries the zone map and bloom of every dir it lists, for the table's
``stats_cols`` and ``bloom_cols`` (a dir the head lists without them,
such as one committed before they were declared, stays as recorded).
Every read of listed batch dirs goes through
``ManifestedTable._read_dirs``, which plans each by its partition spec.
"""

from __future__ import annotations

import errno
import functools
import json
import os
import shutil
import uuid
from collections.abc import Callable
from datetime import date, datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MANIFEST_DIR = "_manifests"
_VERSION_DIGITS = 8


class CommitConflict(RuntimeError):
    """Another writer published this version first; retry from head."""


class ConstraintViolation(RuntimeError):
    """A staged batch broke a table CHECK constraint; nothing was
    published and the staged files were removed."""


def _json_safe(v):
    """min/max values → JSON-storable, order-preserving encodings.
    Timestamps become ISO-8601 strings (lexicographic order == time
    order for a fixed format); numbers pass through."""
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _zone_key(v):
    """A zone-map value or a range bound, decoded for comparison:
    datetimes, dates (as midnight) and ISO-8601 strings in either form
    (``T`` or space separator) as datetimes, other values unchanged.
    Comparing the stored ISO strings with an undecoded string bound
    would be wrong: ``'2024-01-10 06:00:00'`` sorts below every
    same-day ``'2024-01-10T…'`` value, so it reads as an earlier
    instant than it is."""
    if isinstance(v, str):
        try:
            return datetime.fromisoformat(v)
        except ValueError:
            return v
    if isinstance(v, date) and not isinstance(v, datetime):
        return datetime.combine(v, datetime.min.time())
    return v


def _reader(spark: SparkSession, schema: T.StructType | None):
    """A declared schema, or footer merging across batches."""
    if schema is None:
        return spark.read.option("mergeSchema", "true")
    return spark.read.schema(schema)


def _union_by_name(parts: list[DataFrame]) -> DataFrame:
    """One logical Union of ``parts`` aligned by column name, missing
    columns as NULL."""
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )


def _link_exclusive(target: str, record: dict, conflict: str) -> None:
    """Write ``record`` as JSON to ``target`` iff no file has that name:
    the compare-and-swap every version, ref and catalog publish uses.
    The record is fully written to a temp file first and then
    hard-linked to ``target``; ``os.link`` is atomic and *exclusive*
    (EEXIST when the target exists), raised here as
    ``CommitConflict(conflict)``.  ``os.rename`` cannot serve as the
    CAS: rename onto an existing name silently replaces on POSIX, so two
    racers past an exists() check would both "succeed" and the second
    would overwrite the first's record."""
    tmp = os.path.join(
        os.path.dirname(target), f".tmp-{uuid.uuid4().hex[:12]}.json"
    )
    with open(tmp, "w") as f:
        json.dump(record, f)
    try:
        os.link(tmp, target)
    except FileExistsError:
        raise CommitConflict(conflict) from None
    finally:
        os.unlink(tmp)


class ManifestedTable:
    def __init__(
        self,
        table_dir: str,
        stats_cols: tuple[str, ...] = (),
        bloom_cols: tuple[str, ...] = (),
        bloom_bits: int = 4096,
        bloom_hashes: int = 5,
        check_constraints: tuple[str, ...] = (),
    ):
        self.table_dir = table_dir
        # Delta-style CHECK constraints: SQL boolean expressions every
        # row of every staged batch must satisfy (NULL counts as a
        # violation — a constraint must PROVE itself). Enforced in
        # stage_batch, the choke point all write paths share.
        self.check_constraints = tuple(check_constraints)
        # Columns whose per-batch min/max land in the manifest (zone
        # maps): commits compute them once, reads prune whole batch
        # dirs whose range cannot match a predicate — the Iceberg
        # metadata-skipping model at directory granularity.
        self.stats_cols = tuple(stats_cols)
        # Columns carrying a per-batch BLOOM skip index (ClickHouse's
        # bloom_filter skip index / Delta-Iceberg bloom filters): zone
        # maps prune RANGE predicates on clustered columns; the bloom
        # prunes POINT lookups on high-cardinality columns no sort
        # order helps with. md5-double-hashing keeps the bitset
        # engine- and session-portable (no seed, no partitioning
        # dependence), stored hex in the manifest (~bits/4 chars per
        # column per batch).
        self.bloom_cols = tuple(bloom_cols)
        # Round UP to a whole number of bytes: positions are computed
        # mod bloom_bits and the reader re-derives the geometry as
        # len(bits)*8, so a non-multiple-of-8 size would both index
        # past the allocation at write time and disagree with the
        # probe modulus at read time.
        if bloom_bits <= 0:
            raise ValueError(f"bloom_bits must be positive, got {bloom_bits}")
        self.bloom_bits = (bloom_bits + 7) // 8 * 8
        self.bloom_hashes = bloom_hashes
        os.makedirs(os.path.join(table_dir, _MANIFEST_DIR), exist_ok=True)

    # ---- bloom skip index -------------------------------------------

    def _bloom_positions(
        self, value, bits_n: int | None = None, hashes: int | None = None
    ) -> list[int]:
        """Bit positions of one value: md5 split into two 64-bit words,
        double hashing h1 + i*h2 (Kirsch-Mitzenmacher) — deterministic
        for any engine that can md5 the value's canonical string.

        ``bits_n``/``hashes`` default to the writer-side instance
        config; probes against a PERSISTED bitset must pass the
        geometry stored with it (see bloom_might_contain) so a reader
        constructed with different parameters never computes positions
        mod the wrong size."""
        import hashlib

        key = str(_json_safe(value)).encode("utf-8")
        hx = hashlib.md5(key).hexdigest()
        h1, h2 = int(hx[:16], 16), int(hx[16:32], 16) | 1
        n = self.bloom_bits if bits_n is None else bits_n
        k = self.bloom_hashes if hashes is None else hashes
        return [(h1 + i * h2) % n for i in range(k)]

    def _compute_bloom(self, name: str) -> dict:
        """Per-batch bloom bitsets for ``bloom_cols`` from a
        column-pruned pyarrow read of the staged batch — the same
        build-at-write-time moment ClickHouse materializes its skip
        index granules (one bounded batch, one column; never a second
        full-table scan)."""
        if not self.bloom_cols:
            return {}
        import pyarrow.parquet as pq

        out: dict[str, str] = {}
        # a bloomed column living in the PARTITION path of a
        # hive-partitioned batch contributes no data pages, so it is
        # simply absent here — read_point treats a missing entry as
        # might-contain.
        files = data_files(os.path.join(self.table_dir, name))
        for col in self.bloom_cols:
            bits = bytearray(self.bloom_bits // 8)
            seen = set()
            for fpath in files:
                if col not in pq.read_schema(fpath).names:
                    continue  # partition-path column: no data pages
                t = pq.read_table(fpath, columns=[col])
                for v in t.column(0).to_pylist():
                    if v is None or v in seen:
                        continue
                    seen.add(v)
                    for pos in self._bloom_positions(v):
                        bits[pos // 8] |= 1 << (pos % 8)
            # Geometry is PERSISTED with the bitset: a reader built
            # with different bloom_bits/bloom_hashes must probe with
            # the writer's parameters or it gets false negatives.
            out[col] = {"bits": bits.hex(), "k": self.bloom_hashes}
        return out

    def bloom_might_contain(self, entry, value) -> bool:
        """Probe one persisted bloom entry. The bit count is derived
        from the stored bitset length and the hash count from the
        stored ``k`` — never from this reader's construction params.
        Any malformed/unreadable geometry returns True (keep the dir):
        skipping is an optimization, never a filter."""
        if isinstance(entry, dict):
            hex_bits = entry.get("bits")
            k = entry.get("k")
        else:  # legacy plain-hex entry (pre-geometry manifests)
            hex_bits, k = entry, self.bloom_hashes
        try:
            bits = bytes.fromhex(hex_bits)
            n = len(bits) * 8
            if n <= 0 or not isinstance(k, int) or k <= 0:
                return True
            return all(
                bits[pos // 8] & (1 << (pos % 8))
                for pos in self._bloom_positions(value, n, k)
            )
        except (TypeError, ValueError):
            return True

    # ---- snapshot bookkeeping -------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(
            self.table_dir,
            _MANIFEST_DIR,
            f"v{version:0{_VERSION_DIGITS}d}.json",
        )

    def versions(self) -> list[int]:
        mdir = os.path.join(self.table_dir, _MANIFEST_DIR)
        out = []
        for name in os.listdir(mdir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def head_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def manifest(self, version: int | None = None) -> dict:
        v = self.head_version() if version is None else version
        if v == 0:
            return {"version": 0, "dirs": [], "op": "init", "meta": {}}
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    # ---- writes ----------------------------------------------------

    def stage_batch(
        self, df: DataFrame, partition_by: tuple[str, ...] | None = None
    ) -> str:
        """Write one immutable batch directory; invisible until a
        manifest lists it.  With ``check_constraints`` declared, the
        STAGED files are validated (read back, so post-write types are
        what's checked — the Delta CHECK-constraint model) and a
        violating batch is deleted and refused before any manifest can
        list it: enforcement at the single staging choke point covers
        every write path (append, overwrite, branch, merge, TTL).

        ``partition_by`` lays the batch out hive-partitioned on those
        columns and records the spec in a ``_PARTITION_SPEC.json``
        sidecar (underscore-prefixed — Spark's file index skips it), so
        each batch is SELF-DESCRIBING: the table's partition spec can
        EVOLVE across commits (the Iceberg partition-evolution model —
        old batches keep their layout forever, new batches use the new
        spec, read merges them)."""
        name = f"batch-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self.table_dir, name)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        drop_empty_files(data_files(path), keep_one=True)
        with open(os.path.join(path, "_PARTITION_SPEC.json"), "w") as fh:
            json.dump({"partition_by": list(partition_by or ())}, fh)
        if self.check_constraints:
            spark = df.sparkSession
            staged = spark.read.parquet(path)
            # ONE validating scan for all constraints: OR the violation
            # predicates together, select a per-constraint violation
            # flag alongside the row, and recover which constraint
            # failed from the flags of the first bad row returned.
            viol = [
                f"(NOT ({e}) OR ({e}) IS NULL)"
                for e in self.check_constraints
            ]
            flags = [
                F.expr(v).alias(f"__viol_{i}") for i, v in enumerate(viol)
            ]
            first = (
                staged.filter(" OR ".join(viol))
                .select(*staged.columns, *flags)
                .first()
            )
            if first is not None:
                shutil.rmtree(path, ignore_errors=True)
                row = first.asDict()
                broken = [
                    e
                    for i, e in enumerate(self.check_constraints)
                    if row.pop(f"__viol_{i}")
                ]
                raise ConstraintViolation(
                    f"CHECK ({broken[0]}) violated by staged batch; "
                    f"example row: {row}"
                )
        return name

    def _compute_stats(self, name: str) -> dict:
        """Per-batch min/max zone maps for ``stats_cols``, read from
        the staged batch's parquet FOOTERS — driver-side metadata
        only, no Spark job and no second scan of the data."""
        if not self.stats_cols:
            return {}
        import pyarrow.parquet as pq

        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        for fpath in data_files(os.path.join(self.table_dir, name)):
            md = pq.read_metadata(fpath)
            for rg in range(md.num_row_groups):
                group = md.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    cname = col.path_in_schema
                    if cname not in self.stats_cols:
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    if cname not in mins or st.min < mins[cname]:
                        mins[cname] = st.min
                    if cname not in maxs or st.max > maxs[cname]:
                        maxs[cname] = st.max
        # Only values JSON stores in order (numbers, ISO strings); a
        # column with other stats (decimals, binary) gets no zone map,
        # so its dirs are always kept.
        ranges = {
            c: [_json_safe(mins[c]), _json_safe(maxs[c])] for c in mins if c in maxs
        }
        return {
            c: r for c, r in ranges.items()
            if all(isinstance(v, (int, float, str)) for v in r)
        }

    def _stage_rows(
        self, df: DataFrame, partition_by: tuple[str, ...] | None = None
    ) -> str | None:
        """:meth:`stage_batch`, but None (and no dir left behind) when
        the staged batch holds no rows.  The count comes from the staged
        parquet footers, a driver-side metadata read, not a Spark job."""
        import pyarrow.parquet as pq

        name = self.stage_batch(df, partition_by=partition_by)
        path = os.path.join(self.table_dir, name)
        if sum(pq.read_metadata(f).num_rows for f in data_files(path)):
            return name
        shutil.rmtree(path)
        return None

    def _rewrite(self, spark: SparkSession, d: str, keep) -> str | None:
        """Batch dir ``d`` restaged with only its rows matching the
        Column ``keep``, in ``d``'s own partition spec (so a
        hive-partitioned dir stays hive-partitioned and its partition
        columns keep their read type); None when no row matches."""
        return self._stage_rows(
            self._read_dirs(spark, [d]).filter(keep), self.batch_spec(d)
        )

    def _publish(
        self,
        dirs: list[str],
        op: str,
        meta: dict,
        parent: int | None = None,
        stats: dict | None = None,
        bloom: dict | None = None,
    ) -> int:
        """Atomic version publish, one attempt: writes v(parent+1) with
        the zone maps and blooms of the listed ``dirs`` or raises
        CommitConflict (:func:`_link_exclusive`).  ``parent`` pins the
        snapshot this commit replaces: ANY intervening publish makes the
        link collide — the check is the filesystem name itself, no
        read-then-write gap.  Unset, the version after the current head
        is taken.  Write ops go through :meth:`_commit`, which retries."""
        head = self.head_version() if parent is None else parent
        version = head + 1
        listed = set(dirs)

        def recorded(per_dir):
            return {d: v for d, v in (per_dir or {}).items() if d in listed and v}

        record = {
            "version": version,
            "parent": head,
            "op": op,
            "dirs": dirs,
            "meta": meta,
            "stats": recorded(stats),
        }
        blooms = recorded(bloom)
        if blooms:
            record["bloom"] = blooms
        _link_exclusive(
            self._manifest_path(version),
            record,
            f"version {version} already published",
        )
        return version

    def _commit(
        self,
        op: str,
        meta: dict,
        dirs_for: Callable[[dict], list[str] | None],
        pin: bool = True,
    ) -> int | None:
        """The one way a write op publishes a version; returns it.

        ``dirs_for(head)`` maps the head manifest to the dirs the new
        version lists, or to None to abandon the commit (the call then
        returns None).  Each listed dir's zone map and bloom are carried
        from the head when the head lists the dir, and otherwise
        computed from its staged files, once per call however many
        attempts it takes.  A lost CAS re-reads the head and calls
        ``dirs_for`` again; an op whose list needs staged work keeps
        that work across the calls itself.

        With ``pin`` the publish is pinned to the head the list was
        built from.  A list built from a head read (append, the
        loader's tick, compact, merge, delete, TTL) must pin it, or a
        publish landing in between drops out of the list; only a list
        that does not depend on the head (overwrite, rollback, a branch
        append, a clone) may leave it unpinned.  (Caught by
        tests/test_manifest.py::test_concurrent_appends_lose_no_commit
        under host-load interleavings.)"""
        computed: dict[str, tuple[dict, dict]] = {}
        while True:
            head = self.manifest()
            dirs = dirs_for(head)
            if dirs is None:
                return None
            listed = set(head["dirs"])
            stats, bloom = dict(head.get("stats", {})), dict(head.get("bloom", {}))
            for d in dirs:
                if d in listed:
                    continue
                if d not in computed:
                    computed[d] = (self._compute_stats(d), self._compute_bloom(d))
                stats[d], bloom[d] = computed[d]
            try:
                return self._publish(
                    dirs,
                    op,
                    meta,
                    parent=head["version"] if pin else None,
                    stats=stats,
                    bloom=bloom,
                )
            except CommitConflict:
                continue

    def commit_append(
        self,
        df: DataFrame,
        meta: dict | None = None,
        partition_by: tuple[str, ...] | None = None,
    ) -> int:
        """Stage + publish head∪batch; retries version conflicts (the
        staged data is reused — only the metadata publish re-runs).

        ``partition_by`` stages the batch hive-partitioned on those
        columns — the partition spec may differ per commit (partition
        evolution); :meth:`read` merges the specs."""
        name = self.stage_batch(df, partition_by=partition_by)
        return self._commit("append", meta or {}, lambda head: head["dirs"] + [name])

    def commit_overwrite(self, df: DataFrame, meta: dict | None = None) -> int:
        """Stage + publish a manifest listing ONLY the new batch — a
        metadata-only table replacement; old data remains for time
        travel until vacuum."""
        name = self.stage_batch(df)
        return self._commit("overwrite", meta or {}, lambda head: [name], pin=False)

    def _live_dirs(self, version: int) -> list[str]:
        """A snapshot's dirs, refusing a snapshot that vacuum kept for
        ref lineage only and whose dirs it removed."""
        dirs = self.manifest(version)["dirs"]
        gone = [d for d in dirs if not os.path.isdir(os.path.join(self.table_dir, d))]
        if gone:
            raise FileNotFoundError(
                f"snapshot {version} is kept for ref lineage only; "
                f"vacuum removed its dirs {gone}"
            )
        return dirs

    def rollback(self, version: int) -> int:
        """Publish a new head that re-exposes an old snapshot's dirs —
        the instant-undo a pipeline needs after a bad batch."""
        dirs = self._live_dirs(version)
        return self._commit(
            "rollback", {"to_version": version}, lambda head: dirs, pin=False
        )

    # ---- named refs: branches and tags ------------------------------
    #
    # Iceberg-style refs over the SAME linear, CAS-published version
    # log: a ref is a named pointer into the log, stored as a
    # monotonic chain of generation files
    # (_manifest/refs/<name>/g%06d.json) so updating a ref is the same
    # atomic-exclusive os.link CAS the manifest publish uses — two
    # racers on one branch collide on the generation name, never
    # overwrite.  Branch commits merge their dirs against the BRANCH
    # tip (not the table head) and record {ref, ref_base} in meta, so
    # each branch is an isolated snapshot chain while version numbers
    # stay globally unique (no renumbering, time travel unchanged).
    # With refs in play, a versionless read() is the LOG TAIL — the
    # newest snapshot regardless of which ref produced it (an audit /
    # debugging view); governed readers address a ref via read_ref.  A
    # publish that loses the ref CAS leaves a dangling version — the
    # same orphan a failed optimistic commit leaves in Iceberg; it is
    # never reachable from any ref and vacuum may reclaim its batch.

    def _ref_dir(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid ref name: {name!r}")
        return os.path.join(self.table_dir, _MANIFEST_DIR, "refs", name)

    def _ref_tip(self, name: str) -> tuple[int, dict]:
        """(generation, ref record) of a ref's current tip."""
        rd = self._ref_dir(name)
        try:
            gens = sorted(
                int(fn[1:-5])
                for fn in os.listdir(rd)
                if fn.startswith("g") and fn.endswith(".json")
            )
        except FileNotFoundError:
            raise KeyError(f"no such ref: {name}") from None
        if not gens:
            raise KeyError(f"no such ref: {name}")
        with open(os.path.join(rd, f"g{gens[-1]:06d}.json")) as f:
            return gens[-1], json.load(f)

    def _ref_set(
        self, name: str, version: int, expect_gen: int, kind: str
    ) -> None:
        """CAS the ref from generation ``expect_gen`` to a new record;
        a concurrent update collides on the generation filename."""
        _link_exclusive(
            os.path.join(self._ref_dir(name), f"g{expect_gen + 1:06d}.json"),
            {"name": name, "version": version, "kind": kind},
            f"ref {name} advanced past generation {expect_gen}",
        )

    def branch_create(
        self, name: str, version: int | None = None, kind: str = "branch"
    ) -> int:
        """Create a branch (mutable) or tag (immutable) pointing at a
        snapshot (default: current head). Exclusive: creating an
        existing ref raises."""
        if kind not in ("branch", "tag"):
            raise ValueError(f"kind must be branch|tag, got {kind!r}")
        v = self.head_version() if version is None else version
        if v > 0:
            self.manifest(v)  # validates the snapshot exists
        rd = self._ref_dir(name)
        os.makedirs(rd, exist_ok=True)
        if any(fn.endswith(".json") for fn in os.listdir(rd)):
            raise CommitConflict(f"ref {name} already exists")
        self._ref_set(name, v, expect_gen=0, kind=kind)
        return v

    def refs(self) -> dict[str, int]:
        """All refs → tip version."""
        root = os.path.join(self.table_dir, _MANIFEST_DIR, "refs")
        out: dict[str, int] = {}
        if os.path.isdir(root):
            for name in sorted(os.listdir(root)):
                try:
                    out[name] = self._ref_tip(name)[1]["version"]
                except (KeyError, ValueError):
                    continue
        return out

    def branch_head(self, name: str) -> int:
        return self._ref_tip(name)[1]["version"]

    def commit_append_on(
        self, name: str, df: DataFrame, meta: dict | None = None
    ) -> int:
        """Append to a BRANCH: dirs merge against the branch tip (not
        the table head), the new snapshot records its ref lineage, and
        the ref advances by CAS — losing either race retries with the
        staged batch reused, exactly like commit_append."""
        # Reject tags BEFORE staging: stage_batch does a full parquet
        # write + constraint scan, and a tag can never become a branch,
        # so staging first would orphan the batch dir until vacuum.
        if self._ref_tip(name)[1]["kind"] != "branch":
            raise CommitConflict(f"ref {name} is a tag (immutable)")
        batch = self.stage_batch(df)
        while True:
            gen, rec = self._ref_tip(name)
            if rec["kind"] != "branch":
                # ref was retargeted to a tag mid-race: don't leak the
                # staged batch dir while refusing the append
                shutil.rmtree(
                    os.path.join(self.table_dir, batch), ignore_errors=True
                )
                raise CommitConflict(f"ref {name} is a tag (immutable)")
            dirs = self.manifest(rec["version"])["dirs"] + [batch]
            v = self._commit(
                "append",
                {**(meta or {}), "ref": name, "ref_base": rec["version"]},
                lambda head: dirs,
                pin=False,  # the list is the branch tip's; the ref CAS guards it
            )
            try:
                self._ref_set(name, v, expect_gen=gen, kind="branch")
                return v
            except CommitConflict:
                continue  # branch tip moved: re-merge against it

    def _lineage(self, tip: int, floor: int):
        """Yield a snapshot's branch lineage (ref_base for branch
        commits, parent otherwise) from ``tip`` down: every version
        above ``floor``, whose manifests the walk reads, then the first
        version at or below it."""
        v = tip
        while v > floor:
            yield v
            m = self.manifest(v)
            v = (
                m["meta"]["ref_base"]
                if m.get("meta", {}).get("ref") is not None
                else m.get("parent", 0)
            )
        yield v

    def _ref_chain_contains(self, tip: int, ancestor: int) -> bool:
        """Walk a snapshot's branch lineage back to ``ancestor``."""
        *_, last = self._lineage(tip, ancestor)
        return last == ancestor

    def fast_forward(self, dst: str, src: str) -> int:
        """Advance ref ``dst`` to ``src``'s tip iff dst's tip is an
        ancestor of src's branch chain — the merge that needs no merge.
        Diverged refs raise (a real merge is commit_append_on +
        reconciliation, deliberately explicit)."""
        dgen, drec = self._ref_tip(dst)
        if drec["kind"] != "branch":
            raise CommitConflict(f"ref {dst} is a tag (immutable)")
        sv = self.branch_head(src)
        if sv == drec["version"]:
            return sv
        if not self._ref_chain_contains(sv, drec["version"]):
            raise CommitConflict(
                f"refs diverged: {dst}@{drec['version']} is not an "
                f"ancestor of {src}@{sv}"
            )
        self._ref_set(dst, sv, expect_gen=dgen, kind="branch")
        return sv

    def read_ref(self, spark: SparkSession, name: str) -> DataFrame | None:
        """Snapshot read at a ref's tip."""
        return self.read(spark, version=self.branch_head(name))

    # ---- TTL expiry --------------------------------------------------

    def _ttl_split(
        self, head: dict, col: str, cutoff
    ) -> tuple[list[str], list[str], list[str]]:
        """Split ``head``'s dirs for a TTL on ``col < cutoff`` into
        (expired, straddling, kept) by their zone maps: expired dirs'
        max is below the cutoff, kept dirs' min is at or past it.  Stats
        and cutoff are compared as :func:`_zone_key` decodes them, as in
        :meth:`prune_dirs`; a dir without a zone map for ``col``, or
        whose stats do not compare with the cutoff, straddles (its rows
        must be looked at)."""
        cut = _zone_key(cutoff)
        stats = head.get("stats", {})
        expired, straddling, kept = [], [], []
        for d in head["dirs"]:
            try:
                mn, mx = (_zone_key(v) for v in stats.get(d, {}).get(col))
                side = expired if mx < cut else kept if mn >= cut else straddling
            except TypeError:  # no stats, or stats of another type
                side = straddling
            side.append(d)
        return expired, straddling, kept

    def apply_ttl(self, spark: SparkSession, col: str, cutoff) -> dict:
        """ClickHouse-style table TTL (``TTL ts + INTERVAL ...``):
        expire every row with ``col < cutoff`` in one snapshot
        publish.  Three-way classification per batch dir via the
        manifest's zone maps (:meth:`_ttl_split`) — METADATA-ONLY drop
        when the batch max is below the cutoff (no read, no write, the
        common case once data is time-clustered), untouched carry-over
        when the batch min is already past it, and a REWRITE only for
        dirs straddling the cutoff (or lacking stats), each in its own
        partition spec.  Old dirs stay reachable through time travel
        until vacuum, like every other replace-style op.  Publishes
        op='ttl' pinned to the snapshot it classified, retrying with
        staged rewrites reused, so a concurrent append can never be
        silently expired against a stale dirs list."""
        keep = F.col(col) >= F.lit(cutoff)
        rewrite = functools.cache(lambda d: self._rewrite(spark, d, keep))
        split: tuple[list[str], list[str], list[str]] = ([], [], [])

        def dirs_for(head):
            nonlocal split
            split = self._ttl_split(head, col, cutoff)
            _, straddling, kept = split
            return kept + [n for n in map(rewrite, straddling) if n]

        v = self._commit("ttl", {"col": col, "cutoff": _json_safe(cutoff)}, dirs_for)
        expired, straddling, kept = split
        return {
            "version": v,
            "dropped_metadata_only": sorted(expired),
            "rewritten": sorted(straddling),
            "kept": sorted(kept),
        }

    def apply_ttl_rollup(
        self, spark: SparkSession, col: str, cutoff, agg_builder
    ) -> dict:
        """ClickHouse ``TTL ... GROUP BY`` (rollup TTL): rows older
        than the cutoff are not deleted but COLLAPSED — ``agg_builder``
        maps the expired rows to their aggregate replacement (same
        schema, e.g. one row per (day, type) with value summed), which
        is staged as one batch alongside the surviving recent rows.
        Zone maps classify dirs exactly like apply_ttl: dirs entirely
        past the cutoff carry over by name, straddling dirs are
        rewritten to their surviving rows, and whole-expired and
        straddling dirs contribute their old rows to ONE global
        aggregation (stronger than ClickHouse's per-part rollup — no
        partial groups survive).  Publish is parent-pinned with staged
        work reused on conflict."""
        keep = F.col(col) >= F.lit(cutoff)
        rewrite = functools.cache(lambda d: self._rewrite(spark, d, keep))

        rolled: dict[tuple[str, ...], str | None] = {}
        split: tuple[list[str], list[str], list[str]] = ([], [], [])

        def dirs_for(head):
            nonlocal split
            split = self._ttl_split(head, col, cutoff)
            expired, straddling, kept = split
            old = tuple(sorted(expired + straddling))
            if old and old not in rolled:
                # The expired rows are read through the whole snapshot,
                # so the aggregate is typed as the table reads (a
                # partition column of an old hive-partitioned dir alone
                # would read with its inferred type); kept dirs hold no
                # row below the cutoff.
                rolled[old] = self._stage_rows(
                    agg_builder(
                        self._read_dirs(spark, head["dirs"]).filter(
                            F.col(col) < F.lit(cutoff)
                        )
                    )
                )
            survivors = [n for n in map(rewrite, straddling) if n]
            return kept + survivors + [n for n in (rolled.get(old),) if n]

        v = self._commit(
            "ttl_rollup", {"col": col, "cutoff": _json_safe(cutoff)}, dirs_for
        )
        expired, straddling, kept = split
        old = tuple(sorted(expired + straddling))
        return {
            "version": v,
            "collapsed_dirs": list(old),
            "rolled_dir": rolled.get(old),
            "kept": sorted(kept),
        }

    # ---- reads -----------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        schema: T.StructType | None = None,
    ) -> DataFrame | None:
        """Snapshot read (head, or time travel to ``version``).

        Returns None for an empty table. mergeSchema for the same
        schema-evolution tolerance as ParquetLoader.read; a declared
        ``schema`` reads just those columns instead, with no footer
        merge job.

        Partition specs may EVOLVE across commits (the Iceberg
        partition-evolution read model): batches staged flat, batches
        partitioned by one spec, and batches partitioned by a later spec
        coexist in one snapshot, each planned with its own layout by
        :meth:`_read_dirs`."""
        return self._read_dirs(spark, self.manifest(version)["dirs"], schema)

    def batch_spec(self, name: str) -> tuple[str, ...]:
        """The partition spec a batch dir was staged with (empty tuple
        for flat batches and for batches staged before specs existed —
        both read identically)."""
        p = os.path.join(self.table_dir, name, "_PARTITION_SPEC.json")
        try:
            with open(p) as fh:
                return tuple(json.load(fh).get("partition_by", ()))
        except OSError:
            return ()

    def _read_dirs(
        self,
        spark: SparkSession,
        dirs: list[str],
        schema: T.StructType | None = None,
    ) -> DataFrame | None:
        """One read of the batch dirs ``dirs`` (None when empty).  Each
        dir is planned with ITS OWN layout: same-spec dirs share one
        multi-path scan (one file index, hive partition inference per
        basePath, so partition pruning still applies per batch where the
        filter touches that batch's partition columns), and the specs'
        scans are unioned by name with missing columns as NULL — one
        logical Union, and Catalyst pushes row filters into every leg.
        All-flat dirs are one plain multi-path scan."""
        if not dirs:
            return None
        groups: dict[tuple[str, ...], list[str]] = {}
        for d in dirs:
            groups.setdefault(self.batch_spec(d), []).append(d)
        return _union_by_name([
            _reader(spark, schema).parquet(
                *(os.path.join(self.table_dir, d) for d in same_spec)
            )
            for _, same_spec in sorted(groups.items())
        ])

    def read_with_commit_seq(
        self,
        spark: SparkSession,
        seq_col: str = "_commit_seq",
        version: int | None = None,
    ) -> DataFrame | None:
        """Snapshot read with each row stamped with the version of the
        commit that first introduced its batch dir — derived from the
        manifest chain, NOT a physical column in the data. This is the
        merge-on-read primitive: latest-per-key resolution orders by
        ``seq_col`` (see x9). One :meth:`_read_dirs` read per commit
        version, with that version as a constant column, unioned by
        name."""
        v = self.head_version() if version is None else version
        first_seen: dict[str, int] = {}
        for ver in self.versions():
            if ver > v:
                break
            for d in self.manifest(ver)["dirs"]:
                first_seen.setdefault(d, ver)
        by_seq: dict[int, list[str]] = {}
        for d in self.manifest(v)["dirs"]:
            by_seq.setdefault(first_seen[d], []).append(d)
        if not by_seq:
            return None
        return _union_by_name([
            self._read_dirs(spark, dirs).withColumn(seq_col, F.lit(seq))
            for seq, dirs in sorted(by_seq.items())
        ])

    # ---- maintenance ----------------------------------------------

    def _zvalue(self, cols: tuple[str, ...], base_version: int):
        """Morton (Z-order) key over ``cols``, built from the snapshot's
        OWN zone-map stats — no extra scan, no driver collect: each
        column linearly buckets into 2^bits using the manifest's global
        [min, max], and the bucket bits interleave into one long
        (the f16 geohash construction generalized to any columns).

        Linear bucketing keeps buckets balanced for roughly uniform
        columns; heavily skewed columns still CLUSTER correctly (the
        z-curve just allocates them fewer distinct buckets).  Delta's
        OPTIMIZE ZORDER uses sampled range boundaries for the same
        step; swap the bucket expression there if skew ever matters."""
        from pyspark.sql import functions as F

        bits = {1: 20, 2: 16, 3: 10, 4: 8}.get(len(cols), 8)
        m = self.manifest(base_version)
        stats = m.get("stats", {})
        buckets = []
        for c in cols:
            rngs = [s[c] for s in stats.values() if c in s]
            if not rngs:
                raise ValueError(
                    f"zorder_by column {c!r} has no zone-map stats — "
                    f"add it to stats_cols so commits record min/max"
                )
            lo = min(r[0] for r in rngs)
            hi = max(r[1] for r in rngs)
            span = float(hi) - float(lo)
            if span <= 0:
                buckets.append(F.lit(0).cast("long"))
                continue
            norm = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(span)
            buckets.append(
                F.least(
                    F.greatest(
                        F.floor(norm * F.lit(float(1 << bits))), F.lit(0)
                    ),
                    F.lit((1 << bits) - 1),
                ).cast("long")
            )
        n = len(buckets)
        z = F.lit(0).cast("long")
        for i in range(bits):
            for j, b in enumerate(buckets):
                bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
        return z

    def compact(
        self,
        spark: SparkSession,
        target_files: int = 1,
        sort_by: str | None = None,
        zorder_by: tuple[str, ...] | None = None,
        split_dirs: bool = False,
    ) -> int:
        """OPTIMIZE: rewrite the head snapshot's many per-commit batch
        dirs into one coalesced dir and publish it as a new version —
        content-identical, metadata-only from a reader's view (readers
        on the old head keep their snapshot; vacuum reclaims it later).
        The incremental-append pattern accretes one small dir per tick;
        periodic compaction restores scan parallelism and bounds the
        path list, exactly like ClickHouse's background merges or
        Delta's OPTIMIZE.

        ``sort_by`` adds data CLUSTERING (Delta's OPTIMIZE ZORDER for
        the single-column case): rows range-partition and sort on the
        column before the rewrite, so each output file covers a
        narrow, disjoint value range — the zone maps the manifest
        records for ``stats_cols`` become maximally selective, and
        ``read_pruned`` on that column skips almost everything.

        ``zorder_by`` is the MULTI-column form (Delta's OPTIMIZE
        ZORDER BY proper): rows cluster on a Morton-interleaved key of
        the named columns, so files cover small hyper-rectangles and
        range predicates on ANY of the columns prune — single-column
        sort only serves its leading column.

        ``split_dirs`` publishes each clustered range partition as its
        OWN batch dir, so the MANIFEST zone maps (not just parquet
        footers) become selective and ``prune_dirs`` skips whole dirs
        without touching storage — at 100 TB that is the difference
        between listing k paths and footer-probing thousands."""
        base = self.head_version()
        df = self.read(spark, version=base)
        if df is None:
            return base
        if zorder_by is not None:
            z = self._zvalue(tuple(zorder_by), base)
            compacted = (
                df.withColumn("__zkey", z)
                .repartitionByRange(target_files, "__zkey")
                .sortWithinPartitions("__zkey")
                .drop("__zkey")
            )
        elif sort_by is not None:
            compacted = df.repartitionByRange(
                target_files, sort_by
            ).sortWithinPartitions(sort_by)
        else:
            compacted = df.coalesce(target_files)
        name = self.stage_batch(compacted)
        names = [name]
        if split_dirs and (sort_by is not None or zorder_by is not None):
            # one dir per range partition: pure driver-side renames of
            # the files Spark already wrote range-disjoint
            staged = os.path.join(self.table_dir, name)
            files = sorted(
                f for f in os.listdir(staged) if f.endswith(".parquet")
            )
            if len(files) > 1:
                names = []
                for i, fn in enumerate(files):
                    sub = f"{name}-p{i:04d}"
                    os.makedirs(os.path.join(self.table_dir, sub))
                    os.rename(
                        os.path.join(staged, fn),
                        os.path.join(self.table_dir, sub, fn),
                    )
                    names.append(sub)
                shutil.rmtree(staged)
        # Unlike append, compaction must replace EXACTLY the snapshot it
        # rewrote: if any writer published after ``base``, committing
        # the compacted dir would silently drop their rows. So the
        # commit is abandoned once the head is past ``base`` (the pin
        # makes a publish racing it collide), the rewrite is removed,
        # and the next compaction run picks up the new head.
        v = self._commit(
            "compact", {}, lambda head: names if head["version"] == base else None
        )
        if v is None:
            for n in names:
                shutil.rmtree(os.path.join(self.table_dir, n))
            return self.head_version()
        return v

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: tuple[str, ...],
        meta: dict | None = None,
    ) -> int:
        """MERGE INTO (upsert): source rows REPLACE current rows with
        the same key (matched → update), unmatched source rows insert.
        Copy-on-write, the Delta/Iceberg CoW model: the merged snapshot
        is staged as a fresh batch and published with ``parent``
        pinned to the snapshot it merged against — a concurrent append
        between our read and publish collides on the version name and
        the merge retries against the new head (the failed attempt's
        staged batch is removed). Readers always see either
        the pre-merge or the post-merge snapshot, never a mix.

        Scale note: CoW rewrites the whole snapshot, the right trade
        for merge-heavy-but-small tables (dimensions, state). For fact
        tables, partition-scope the rewrite (sources/merge.py does
        this for the plain parquet loader) or layer the x9
        merge-on-read view and compact lazily."""
        keys = list(keys)
        name = None

        def dirs_for(head):
            nonlocal name
            if name is not None:  # the last attempt lost to a newer head
                shutil.rmtree(os.path.join(self.table_dir, name))
            current = self._read_dirs(spark, head["dirs"])
            if current is None:
                merged = source
            else:
                remaining = current.join(
                    source.select(*keys).distinct(), keys, "left_anti"
                )
                merged = remaining.unionByName(source)
            name = self.stage_batch(merged)
            return [name]

        return self._commit("merge", meta or {}, dirs_for)

    def delete_rows(
        self,
        spark: SparkSession,
        col: str,
        value,
        meta: dict | None = None,
    ) -> int:
        """Surgical DELETE (the right-to-be-forgotten primitive):
        rewrite ONLY the batch dirs whose zone map can contain
        ``col == value``; every other batch carries over BY NAME into
        the new snapshot — its files are never opened, never copied,
        and remain byte-identical (the property tests assert). This is
        the Delta/Iceberg delete-with-file-skipping model: cost scales
        with the data that actually holds the subject, not the table.
        Each rewritten dir keeps its own partition spec; one left with
        no rows is dropped.  Requires ``col`` in stats_cols for
        selectivity (dirs without stats are conservatively rewritten).
        Publishes with ``parent`` pinned — a concurrent append collides
        and the delete retries against the new head (rewrites reused),
        so the erased rows can never resurface through a lost-update
        race.  Returns the head unchanged when no dir can hold the
        value."""
        keep = ~F.col(col).eqNullSafe(F.lit(value))
        rewrite = functools.cache(lambda d: self._rewrite(spark, d, keep))

        def dirs_for(head):
            touched, untouched = self.prune_dirs(col, value, value, head["version"])
            if not touched:
                return None  # value provably absent — nothing to do
            return untouched + [n for n in map(rewrite, touched) if n]

        v = self._commit(
            "delete",
            {**(meta or {}), "col": col, "value": _json_safe(value)},
            dirs_for,
        )
        return self.head_version() if v is None else v

    def clone_at(
        self, dest_dir: str, version: int | None = None
    ) -> "ManifestedTable":
        """Zero-copy CLONE (Delta's shallow-clone-made-durable): a new
        independent table whose batch files are HARDLINKS to this
        snapshot's files — O(files) metadata work, no data copied, and
        safe against the source's future vacuum (links keep the inodes
        alive even if the source unlinks its names). The clone starts
        at version 1 with only the cloned snapshot's dirs; histories
        do not follow. The dev/test idiom: fork a production snapshot
        instantly, mutate the fork freely."""
        m = self.manifest(version)
        self._live_dirs(m["version"])
        clone = ManifestedTable(
            dest_dir,
            stats_cols=self.stats_cols,
            bloom_cols=self.bloom_cols,
            bloom_bits=self.bloom_bits,
            bloom_hashes=self.bloom_hashes,
        )
        try:
            for d in m["dirs"]:
                # a hive-partitioned batch nests p=<v>/ subdirectories:
                # recreate the tree and link the files at every level
                top = os.path.join(self.table_dir, d)
                for src, _, files in os.walk(top):
                    dst = os.path.join(dest_dir, d, os.path.relpath(src, top))
                    os.makedirs(dst, exist_ok=True)
                    for fn in files:
                        try:
                            os.link(os.path.join(src, fn), os.path.join(dst, fn))
                        except OSError as e:
                            # EXDEV: dest on a different filesystem — a
                            # hardlink can't cross mounts, so fall back to
                            # a real copy (still correct, just not
                            # zero-copy).
                            if e.errno != errno.EXDEV:
                                raise
                            shutil.copy2(
                                os.path.join(src, fn), os.path.join(dst, fn)
                            )
        except OSError:
            # don't leave a half-created clone tree behind
            shutil.rmtree(dest_dir, ignore_errors=True)
            raise
        clone._commit(
            "clone",
            {"source": self.table_dir, "source_version": m["version"]},
            lambda head: m["dirs"],
            pin=False,
        )
        return clone

    # ---- metadata skipping (zone maps) -----------------------------

    def prune_dirs(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> tuple[list[str], list[str]]:
        """Split a snapshot's batch dirs into (kept, skipped) for a
        range predicate ``lo <= col <= hi`` using the manifest's
        per-batch min/max. A dir is skipped only when its recorded
        range PROVABLY cannot intersect the query range; dirs without
        stats, and dirs whose stats do not compare with the bounds, are
        always kept (skipping is an optimization, never a filter).
        Stats and bounds are compared as :func:`_zone_key` decodes
        them, so a timestamp bound may be a datetime or a string in
        either ISO form (``2024-01-10T06:00:00`` or
        ``2024-01-10 06:00:00``)."""
        m = self.manifest(version)
        stats = m.get("stats", {})
        lo_k = _zone_key(lo) if lo is not None else None
        hi_k = _zone_key(hi) if hi is not None else None
        kept, skipped = [], []
        for d in m["dirs"]:
            rng = stats.get(d, {}).get(col)
            try:
                mn, mx = (_zone_key(v) for v in rng)
                skip = (hi_k is not None and mn > hi_k) or (
                    lo_k is not None and mx < lo_k
                )
            except TypeError:  # no stats, or stats of another type
                skip = False
            (skipped if skip else kept).append(d)
        return kept, skipped

    def read_pruned(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame | None:
        """Snapshot read that opens ONLY the batch dirs whose zone map
        can match ``lo <= col <= hi`` — manifest-level file skipping on
        top of parquet's own row-group pruning. The predicate is still
        applied to the surviving rows (stats skip, they do not
        filter)."""
        from pyspark.sql import functions as F

        kept, _ = self.prune_dirs(col, lo, hi, version)
        df = self._read_dirs(spark, kept)
        if df is None:
            return None
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def prune_dirs_point(
        self, col: str, value, version: int | None = None
    ) -> tuple[list[str], list[str]]:
        """Split a snapshot's dirs into (kept, skipped) for an EQUALITY
        probe ``col = value`` using the per-batch bloom index. A dir is
        skipped only when its bloom PROVABLY lacks the value (no false
        negatives by construction — every committed distinct value set
        its bits); dirs without a bloom for ``col`` are always kept
        (skipping is an optimization, never a filter). False positives
        only cost an extra dir open, never correctness."""
        m = self.manifest(version)
        blooms = m.get("bloom", {})
        kept, skipped = [], []
        for d in m["dirs"]:
            hx = blooms.get(d, {}).get(col)
            if hx is None or self.bloom_might_contain(hx, value):
                kept.append(d)
            else:
                skipped.append(d)
        return kept, skipped

    def read_point(
        self, spark: SparkSession, col: str, value, version: int | None = None
    ) -> DataFrame | None:
        """Point-lookup read that opens ONLY the batch dirs whose bloom
        might contain ``value`` — the ClickHouse bloom_filter skip
        index at directory granularity, complementing read_pruned's
        zone maps (ranges need clustering; equality on an unsorted
        high-cardinality column needs a bloom). The predicate is still
        applied to surviving rows."""
        from pyspark.sql import functions as F

        kept, _ = self.prune_dirs_point(col, value, version)
        df = self._read_dirs(spark, kept)
        if df is None:
            return None
        return df.filter(F.col(col) == F.lit(value))

    def _newest_meta(self, key: str):
        """``meta[key]`` of the newest version that records one (None
        when no version does)."""
        for v in reversed(self.versions()):
            value = self.manifest(v)["meta"].get(key)
            if value is not None:
                return value
        return None

    def vacuum(
        self, keep_versions: int = 1, min_age_seconds: float = 3600.0
    ) -> list[str]:
        """Delete batch dirs unreferenced by the newest
        ``keep_versions`` manifests and by the tip of every ref (and
        drop the other manifests). Returns the removed dir names. With
        keep_versions=1 only the live snapshot and the ref tips survive
        — time travel is traded for space, while every branch and tag
        still reads through read_ref.

        The manifests (not the dirs) along each ref's lineage above the
        oldest ref tip also stay, so fast_forward can still walk from
        one ref's tip back to another's. They are lineage only: a
        version kept this way may have lost its dirs, so it no longer
        reads by time travel or rollback.

        ``min_age_seconds`` is the Delta/Iceberg-style retention guard:
        a concurrent writer inside stage→publish has a staged dir that
        is indistinguishable from a crash orphan, so only dirs whose
        mtime is older than the threshold are swept — an in-flight
        commit is never deleted out from under its publish. Pass 0 ONLY
        when the caller holds exclusive access to the table."""
        import time

        vs = self.versions()
        keep = set(vs[-keep_versions:] if keep_versions > 0 else [])
        tips = set(self.refs().values()) & set(vs)
        keep.update(tips)
        lineage: set[int] = set()
        floor = min(tips, default=0)
        for tip in tips:
            try:
                lineage.update(v for v in self._lineage(tip, floor) if v > floor)
            except FileNotFoundError:
                pass  # a chain cut by an earlier vacuum: keep what was walked
        referenced: set[str] = set()
        for v in keep:
            referenced.update(self.manifest(v)["dirs"])
        now = time.time()
        removed = []
        for name in os.listdir(self.table_dir):
            full = os.path.join(self.table_dir, name)
            if (
                name.startswith("batch-")
                and os.path.isdir(full)
                and name not in referenced
                and now - os.path.getmtime(full) >= min_age_seconds
            ):
                shutil.rmtree(full)
                removed.append(name)
        for v in vs:
            if v not in keep and v not in lineage:
                os.unlink(self._manifest_path(v))
        return removed


# ---- ExtractResult integration ------------------------------------

from dataclasses import dataclass  # noqa: E402


from .extract import (  # noqa: E402
    ExtractResult,
    TableConfig,
    data_files,
    drop_empty_files,
    prepare_batch,
)
from .filter_spec import FilterSpec  # noqa: E402


def _window_range(window: FilterSpec) -> tuple:
    """The ``(lo, hi)`` zone-map range of an extraction window, typed as
    the iterate column: ``col >= last_point`` or the static bounds (the
    exclusive upper bound taken as inclusive: pruning may keep a dir it
    could skip, never skip one it must keep)."""

    def typed(v):
        if v is None:
            return None
        return int(v) if window.column_type == "int" else _zone_key(str(v))

    lo = window.last_point if window.last_point is not None else window.lower
    return typed(lo), typed(window.upper)


@dataclass
class ManifestLoader:
    """ParquetLoader's contract over manifest-committed tables, with
    the watermark folded INTO the commit: the sidecar WatermarkStore
    leaves a crash window between "data written" and "state committed"
    (survivable only because appends are idempotent); here the same
    atomic manifest rename publishes data and watermark together, so
    the window does not exist at all.  Run it under an
    ``IncrementalRunner`` with no store: the runner then reads the
    watermark back through :meth:`last_point`."""

    dest_dir: str
    # auto-maintenance: after a commit leaves more than this many batch
    # dirs, run a compaction tick (ClickHouse's background-merge role /
    # Delta's auto-OPTIMIZE).  None disables.  Conflict-safe by
    # construction: compact pins parent to the snapshot it rewrote and
    # abandons on interleaved commits, so the incremental tick itself
    # can never lose rows to maintenance.
    auto_compact_max_dirs: int | None = None

    def table(self, table: TableConfig) -> ManifestedTable:
        """The destination table; its zone maps always cover the
        iterate column, which :meth:`load` prunes the boundary read on."""
        name = table.target_name or table.name
        stats = (*table.stats_columns, table.iterate_column)
        return ManifestedTable(
            os.path.join(self.dest_dir, f"{name}.mfst"),
            stats_cols=tuple(dict.fromkeys(c for c in stats if c)),
        )

    def last_point(self, table: TableConfig) -> str | None:
        """Watermark of the newest commit that recorded one."""
        return self.table(table)._newest_meta("last_point")

    def load(
        self, spark: SparkSession, table: TableConfig, result: ExtractResult
    ) -> int | None:
        """Stage the batch, resolve the observed watermark and row count
        (the staging write IS the observation's action), publish them
        atomically.  The batch prelude is ParquetLoader's
        (``prepare_batch``), over a read of the head snapshot's batch
        dirs whose iterate-column zone map can meet the window
        (:func:`_window_range`); with none, the anti-join is skipped."""
        if result.df is None:
            return None
        mt = self.table(table)

        def read_dest(schema):
            window = result.window
            if window is None:
                return mt.read(spark, schema=schema)
            kept, _ = mt.prune_dirs(window.column, *_window_range(window))
            return mt._read_dirs(spark, kept, schema)

        df = prepare_batch(result, table, read_dest)
        overwrite = result.write_mode == "overwrite"
        name = mt.stage_batch(df) if overwrite else mt._stage_rows(df)
        if name is None:
            # Pure boundary re-read (every batch row was already in the
            # destination): publishing would only churn versions, and
            # the watermark cannot have advanced — dedup removes only
            # rows the destination already holds, all ≤ the stored
            # last_point. The row count is read from the staged footers,
            # so the write-time observation is never consumed by it.
            return None
        meta = {"last_point": result.resolve_last_point(), "rows": result.rows}
        v = mt._commit(
            result.write_mode,
            meta,
            lambda head: [name] if overwrite else head["dirs"] + [name],
        )
        if (
            self.auto_compact_max_dirs is not None
            and len(mt.manifest(v)["dirs"]) > self.auto_compact_max_dirs
        ):
            # best-effort maintenance AFTER the tick's commit is
            # durable; a concurrent writer makes compact abort, never
            # the reverse
            mt.compact(spark, target_files=1)
        return v


class ManifestStreamSink:
    """Exactly-once streaming into a manifest-committed table.

    foreachBatch is at-least-once: after a crash the engine re-delivers
    the last unacknowledged micro-batch. The manifest's commit metadata
    carries the batch_id, so a re-delivered batch is recognized at the
    head and skipped — together with atomic publication this upgrades
    the sink to exactly-once visibility: a reader at any moment sees
    each micro-batch's rows exactly once or not yet, never twice and
    never partially. (Same contract as sources/rollup.py's high-water
    mark, expressed through the snapshot protocol.)"""

    def __init__(self, table_dir: str):
        self.table = ManifestedTable(table_dir)

    def last_batch_id(self) -> int | None:
        return self.table._newest_meta("batch_id")

    def handle(self, batch_df: DataFrame, batch_id: int) -> bool:
        """foreachBatch body; returns False for a skipped re-delivery."""
        last = self.last_batch_id()
        if last is not None and batch_id <= last:
            return False
        self.table.commit_append(batch_df, meta={"batch_id": batch_id})
        return True

    def run_available_now(self, stream: DataFrame, checkpoint: str) -> None:
        q = (
            stream.writeStream.foreachBatch(self.handle)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def manifest_stream_sink(
    spark: SparkSession,
    stream: DataFrame,
    table_dir: str,
    checkpoint: str,
) -> ManifestedTable:
    """Drain ``stream`` into a manifest table with AvailableNow; see
    ManifestStreamSink for the exactly-once contract."""
    sink = ManifestStreamSink(table_dir)
    sink.run_available_now(stream, checkpoint)
    return sink.table


# ---- catalog-level multi-table transactions ------------------------


class ManifestCatalog:
    """Cross-table atomic commits over manifest tables — the capability
    single-table formats (Delta, Iceberg) lack without an external
    transactional catalog: a pipeline tick that lands `events` AND its
    `orders` rollup must expose BOTH new snapshots or NEITHER, or a
    reader joining them sees a torn combination.

    Mechanism: one more manifest level. Each catalog version is a JSON
    file pinning {table_name: table_version}; it publishes with the
    same os.link atomic-exclusive CAS the tables use. A transactional
    commit first lands each table's own version (data + per-table
    manifest, invisible to catalog readers), then publishes ONE catalog
    version pinning all of them. Catalog readers resolve every table
    through the catalog head, so the multi-table flip is a single
    filesystem link — readers observe the old tuple or the new tuple,
    never a mix. Crash between table publish and catalog publish leaves
    the new table versions unreferenced-by-catalog (still time-travel
    readable; the next successful tick's catalog version supersedes).

    Scale: a catalog version is O(tables) bytes; contention is on one
    tiny link per tick, identical to the per-table cost."""

    def __init__(self, root_dir: str):
        self.root_dir = root_dir
        self._dir = os.path.join(root_dir, "_catalog")
        os.makedirs(self._dir, exist_ok=True)

    # versions ------------------------------------------------------

    def _path(self, version: int) -> str:
        return os.path.join(self._dir, f"c{version:0{_VERSION_DIGITS}d}.json")

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self._dir):
            if name.startswith("c") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def head_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def snapshot(self, version: int | None = None) -> dict[str, int]:
        v = self.head_version() if version is None else version
        if v == 0:
            return {}
        with open(self._path(v)) as f:
            return json.load(f)["tables"]

    # tables --------------------------------------------------------

    def table(self, name: str, stats_cols: tuple[str, ...] = ()) -> ManifestedTable:
        return ManifestedTable(
            os.path.join(self.root_dir, f"{name}.mfst"), stats_cols=stats_cols
        )

    # commits -------------------------------------------------------

    def _publish_catalog(
        self, tables: dict[str, int], meta: dict, parent: int
    ) -> int:
        """Publish v(parent+1) or raise CommitConflict. ``parent`` must
        be the snapshot the ``tables`` map was MERGED against — the
        same lost-update pin as ManifestedTable.commit_append: without
        it, two ticks writing different tables would carry stale pins
        for each other's tables and the second publish would silently
        roll one table's pointer back."""
        version = parent + 1
        _link_exclusive(
            self._path(version),
            {"version": version, "tables": tables, "meta": meta},
            f"catalog version {version} already published",
        )
        return version

    def commit_multi(
        self,
        writes: dict[str, tuple[DataFrame, str]],
        meta: dict | None = None,
    ) -> int:
        """Atomic multi-table commit: ``writes`` maps table name →
        (df, mode) with mode 'append' | 'overwrite'. Each table's own
        version lands first (catalog-invisible), then one catalog
        version pins them all. Unlisted tables carry forward at their
        current pinned version."""
        ours: dict[str, int] = {}
        for name, (df, mode) in writes.items():
            t = self.table(name)
            if mode == "overwrite":
                ours[name] = t.commit_overwrite(df)
            elif mode == "append":
                ours[name] = t.commit_append(df)
            else:
                raise ValueError(f"unknown mode: {mode}")
        # optimistic retry: merge OUR table versions over the freshest
        # snapshot each attempt, pin the parent we merged against — a
        # concurrent tick's pins for OTHER tables are never clobbered
        while True:
            base = self.head_version()
            pinned = {**self.snapshot(base), **ours}
            try:
                return self._publish_catalog(pinned, meta or {}, parent=base)
            except CommitConflict:
                continue

    # reads ---------------------------------------------------------

    def read(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> DataFrame | None:
        """Read a table AT the catalog snapshot — cross-table
        consistent: two reads against the same catalog version always
        join coherently, whatever writers do meanwhile."""
        snap = self.snapshot(version)
        if name not in snap:
            return None
        return self.table(name).read(spark, version=snap[name])
