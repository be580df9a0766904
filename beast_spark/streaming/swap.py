"""The streaming maintainers' shared lifecycle (:class:`Maintainer`) and
the one commit protocol behind it: the fragment manifest
(:class:`ManifestSwapTable`).

The reference achieves effectively-once warehouse writes with per-row
insert ids (``BQRowWithInsertId.java:9-12``); maintenance jobs that
REWRITE a derived table need a whole-table analogue. Protocol:

* a batch's new data is written as fresh fragment directories that no
  reader can see yet;
* the applied-batch ledger (and any frozen-config marker) lives INSIDE
  ``MANIFEST.json``, next to the fragment map, so the atomic rename of
  the new manifest over the old one is the single commit point — a
  replayed batch after any crash either sees the old manifest (ledger
  lacks the batch → re-apply) or the new one (ledger has it → skip).
  There is no window where a batch is half-applied or the state is
  absent, because nothing mutates a live fragment in place.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

_LEDGER = "_applied_batches.json"

__all__ = [
    "AdditiveStatsMaintainer",
    "ManifestSwapTable",
    "artifact_fingerprint",
    "write_json_meta",
    "check_json_meta",
]


def artifact_fingerprint(path: str) -> str:
    """Deterministic fingerprint of a FROZEN on-disk artifact (a train
    corpus, a centroid table, a codebook): md5 over the sorted
    (relative path, size, mtime_ns) of every data file under ``path``.

    Cheap — pure directory metadata, no data scan — and strict in the
    fail-safe direction: an in-place rewrite changes size or mtime and
    validation rejects it with an explicit error instead of silently
    reading state derived from the old bytes; a touched-but-unchanged
    file also rejects, which costs an explicit rebuild, never a silent
    wrong answer. RAISES for a path that has no walkable data files
    (missing dir, or a non-local URI ``os.walk`` cannot see) — a
    constant fingerprint there would leave every guard built on this
    helper silently inert."""
    import hashlib

    entries = []
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.startswith(("_", ".")):
                continue  # _SUCCESS markers / CRCs churn without content
            full = os.path.join(root, name)
            st = os.stat(full)
            entries.append(
                (os.path.relpath(full, path), st.st_size, st.st_mtime_ns)
            )
    if not entries:
        raise ValueError(
            f"artifact_fingerprint: no data files under {path!r} — not a "
            "local artifact directory (remote URIs need a storage-native "
            "fingerprint; pass one explicitly instead of relying on a "
            "guard that would never fire)."
        )
    return hashlib.md5(repr(sorted(entries)).encode()).hexdigest()


def write_json_meta(meta_file: str, meta: dict) -> None:
    """Write the frozen-artifact marker a maintainer validates against
    (see :func:`check_json_meta`)."""
    with open(meta_file, "w") as fh:
        json.dump(meta, fh)


def check_json_meta(meta_file: str, meta: dict, what: str, hint: str) -> None:
    """Raise unless the stored marker equals ``meta``.

    The guard every maintainer with frozen inputs shares: derived state
    is only valid against the exact artifact bytes + config it was
    built under, so a changed artifact (or a missing marker) must be an
    explicit error, never a silent wrong answer. ``what`` names the
    maintainer for the message; ``hint`` says how to recover.
    ``meta`` is normalized through a JSON roundtrip before comparing —
    the stored side already went through one, and without it a
    tuple-valued config (JSON reads back as a list) would spuriously
    reject every batch after the first."""
    stored = None
    if os.path.exists(meta_file):
        with open(meta_file) as fh:
            stored = json.load(fh)
    _check_meta(stored, meta, what, hint)


def _check_meta(stored: dict | None, meta: dict, what: str, hint: str) -> None:
    """The comparison behind :func:`check_json_meta`, for a marker
    already loaded (e.g. a manifest's ``user_meta``)."""
    meta = json.loads(json.dumps(meta))
    if stored != meta:
        raise ValueError(
            f"{what}: existing state was built with {stored}, this "
            f"maintainer wants {meta} — {hint}"
        )


class Maintainer:
    """The one lifecycle every streaming maintainer shares: a batch
    counts once, and only after its write lands.

    :meth:`apply_batch` is the ``foreachBatch`` body. It skips a batch
    id the committed ledger already holds (a replay after a post-commit
    crash) and hands any other batch to the subclass hook
    :meth:`_absorb`, which computes the batch's effect and commits it
    together with ``batch_id`` in one atomic step. :meth:`stream_from`
    drives it as an availableNow stream whose checkpoint re-delivers
    exactly the batches not yet committed — Structured Streaming's
    ``foreachBatch`` + checkpoint contract, encoded once.

    The mixin holds no storage: every host is also a
    :class:`ManifestSwapTable`, whose manifest provides
    ``applied_batches()`` and whose :meth:`ManifestSwapTable.commit_delta`
    is the one commit ``_absorb`` goes through — the manifest flip is
    the single commit point for every maintainer."""

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.applied_batches():
            return  # replay after a post-commit crash: already applied
        self._absorb(batch_df, batch_id)

    def _absorb(self, batch_df: DataFrame, batch_id: int) -> None:
        raise NotImplementedError

    def stream_from(self, rows: DataFrame, checkpoint: str):
        """Start the maintenance stream (availableNow-compatible)."""
        return (
            rows.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )


_MANIFEST = "MANIFEST.json"
_SHARD = "_shard"


class ManifestSwapTable:
    """Multi-sub-table state directory committed by a single atomic
    MANIFEST flip — the one commit protocol of every streaming
    maintainer, with per-batch write cost proportional to the DELTA for
    the sub-tables that commit one.

    Each sub-table is a set of immutable FRAGMENT directories, and a
    commit atomically renames a new ``MANIFEST.json`` over the old one
    (POSIX rename of a file is atomic). The manifest is the single
    source of truth: it lists every live fragment leaf per sub-table
    and holds the applied-batch ledger, so data + ledger flip in one
    commit point and a replayed batch after any crash is a no-op.
    Small aggregate-sized state (rollups, additive counts) simply
    commits a ``full`` replacement each batch; index-bearing state (IVF
    postings, LSH postings, corpus signals) appends or replaces shards,
    so a trigger never rewrites the whole index.

    Commit modes per sub-table (mix freely in one commit):

    * ``appends``          — append-only sub-tables (IVF assigned /
      vectors / codes, LSH postings, discovered pairs): one new
      fragment holding ONLY this batch's rows.
    * ``sharded_appends``  — append-only but keyed for lookup: the
      fragment is written ``partitionBy(_shard)`` so point reads
      (:meth:`read_sub` with ``shards=``) prune to the key's hash
      shards across all fragments.
    * ``shard_replacements`` — merge/upsert sub-tables (window-hash
      counts, per-doc signals): the batch rewrites ONLY the hash
      shards its keys touch; untouched shards keep their existing
      fragment leaves byte-identical.
    * ``full`` — replace the whole sub-table (offline rebuild /
      retrain / compaction).

    Crash safety: fragments are written BEFORE the manifest flip, so a
    crash mid-commit leaves orphan directories the manifest never
    references — invisible to readers, garbage-collected at the start
    of the next commit. A crash after the flip leaves superseded leaves
    unreferenced — same GC. There is no window where a reader sees a
    half-applied batch, and the live manifest file always exists once
    the first commit lands.

    Fragment-count growth (one per batch for append subs) is the
    standard log-structured trade; :meth:`compact` folds a sub-table
    back to one fragment (optionally shard-partitioned) through the
    same manifest flip — an offline maintenance action, like partition
    compaction (``streaming/maintenance.py``).

    Single-writer per state directory, like every maintainer here (one
    streaming query owns one checkpoint owns one state dir). Readers:
    within the writer's process, a read plan built from one manifest
    load is self-consistent — the flip is atomic and fragments are
    immutable. A reader in ANOTHER process (e.g. a serving search that
    loaded the previous manifest) can lose a superseded leaf to the
    post-flip GC between its manifest load and its Spark action when a
    shard replacement / compaction lands in between; either quiesce
    readers across those operations or construct the table with
    ``gc_grace_gens > 0``, which retains superseded leaves for that
    many further generations before deleting them (the
    retain-N-snapshots discipline every table format with concurrent
    readers uses).

    Durability model: PROCESS-crash safe as described above. For
    MACHINE-crash (power-loss) durability the manifest tmp file is
    fsynced and the rename is fsynced via the state directory fd, but
    fragment parquet DATA files are written by Spark without an
    explicit fsync — on power loss a surviving manifest may reference
    fragment bytes the page cache never flushed. At warehouse scale the
    fragments live on object storage / a journaled DFS where visibility
    implies durability; on a bare local disk, power-loss recovery is
    rebuild-from-checkpoint."""

    def __init__(self, path: str, n_shards: int = 16, gc_grace_gens: int = 0) -> None:
        self.path = path
        self.n_shards = n_shards
        self.gc_grace_gens = gc_grace_gens

    # -- manifest io --------------------------------------------------------

    def _manifest_file(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _load_manifest(self) -> dict | None:
        mf = self._manifest_file()
        if os.path.exists(mf):
            with open(mf) as fh:
                m = json.load(fh)
            stored = m.get("n_shards")
            if stored is None:
                # manifest written before the shard count was recorded:
                # safe to adopt ONLY while nothing is sharded (unsharded
                # '_' leaves are included in every restricted read, so
                # no prune can miss); backfilled at the next commit
                has_sharded = any(
                    k != "_"
                    for frags in m.get("subs", {}).values()
                    for frag in frags
                    for k in frag
                )
                if has_sharded:
                    raise ValueError(
                        f"ManifestSwapTable: state at {self.path!r} has "
                        "shard-partitioned fragments but records no shard "
                        "count — the shard function cannot be recovered; "
                        "rebuild the state from the source stream."
                    )
            elif stored != self.n_shards:
                # the shard function is part of the on-disk layout: a
                # maintainer reopened with a different n_shards would
                # mis-prune shard-restricted reads (silently missing
                # rows) and mis-route shard replacements (corrupting
                # merges) — fail loudly instead
                raise ValueError(
                    f"ManifestSwapTable: state at {self.path!r} was written "
                    f"with n_shards={stored}, this maintainer has "
                    f"n_shards={self.n_shards} — shard-restricted reads and "
                    "shard replacements would silently miss rows. Recreate "
                    "the maintainer with the original shard count, or "
                    "rebuild the state."
                )
            return m
        # the old whole-directory swap left a top-level ledger, or after a
        # crash mid-swap only a .replaced/.applying sibling: opening that
        # as empty state would lose every batch the checkpoint already
        # committed, so it must be rebuilt instead
        legacy = [
            p
            for p in (
                os.path.join(self.path, _LEDGER),
                self.path + ".replaced",
                self.path + ".applying",
            )
            if os.path.exists(p)
        ]
        if legacy:
            raise ValueError(
                f"ManifestSwapTable: state at {self.path!r} uses the legacy "
                f"whole-directory swap layout ({legacy[0]!r}, no "
                "MANIFEST.json) — this maintainer now commits per-fragment "
                "through a manifest. Rebuild the state from the source stream "
                "(fresh state dir + checkpoint)."
            )
        return None

    def _manifest(self) -> dict:
        m = self._load_manifest()
        if m is not None:
            return m
        return {
            "gen": 0,
            "applied_batches": [],
            "subs": {},
            "n_shards": self.n_shards,
        }

    def applied_batches(self) -> set[int]:
        m = self._load_manifest()
        return set(m["applied_batches"]) if m else set()

    # -- reads ----------------------------------------------------------------

    def manifest_as_of(self, gen: int) -> dict:
        """The fragment map (+ user_meta) of generation ``gen`` — the
        live one, or a superseded one still inside the
        ``gc_grace_gens`` retention window (whose leaves the retention
        list keeps on disk by the same cutoff, so a retained
        generation is always fully readable). This is the snapshot-
        isolation / time-travel read every pointer-table format offers:
        one immutable fragment set per generation, resolved through
        the atomically-flipped manifest. Raises for a generation the
        grace window no longer retains (or never existed)."""
        m = self._load_manifest()
        if not m:
            raise ValueError(
                f"ManifestSwapTable: no state at {self.path!r} — nothing committed yet"
            )
        if gen == m["gen"]:
            return m
        snap = m.get("history", {}).get(str(gen))
        if snap is None:
            raise ValueError(
                f"ManifestSwapTable: generation {gen} is not retained at "
                f"{self.path!r} (live gen {m['gen']}, grace "
                f"{self.gc_grace_gens} — construct the maintainer with "
                "gc_grace_gens > 0 to retain readable generations)"
            )
        view = {"gen": gen, "subs": snap["subs"], "n_shards": m["n_shards"]}
        if "user_meta" in snap:
            view["user_meta"] = snap["user_meta"]
        return view

    def user_meta_as_of(self, gen: int) -> dict | None:
        """The caller marker as it stood at generation ``gen`` —
        maintainers whose marker changes across rebuilds (frozen
        artifacts) must validate time-travel reads against THIS, not
        the live marker, or a read spanning a rebuild would mix
        generations silently."""
        return self.manifest_as_of(gen).get("user_meta")

    def sub_leaves(
        self,
        name: str,
        shards: list[int] | None = None,
        as_of_gen: int | None = None,
    ) -> list[str]:
        """Absolute paths of one sub-table's fragment leaves — the live
        generation's, or a retained generation's via ``as_of_gen`` —
        optionally restricted to a shard list (unsharded fragments are
        always included — they may hold any key)."""
        if as_of_gen is None:
            m = self._load_manifest()
            if not m:
                return []
        else:
            m = self.manifest_as_of(as_of_gen)
        want = None if shards is None else {str(s) for s in shards}
        leaves = []
        for frag in m["subs"].get(name, []):
            for key, rel in frag.items():
                if want is None or key == "_" or key in want:
                    leaves.append(os.path.join(self.path, rel))
        return leaves

    def _read_sub(
        self,
        spark: SparkSession,
        name: str,
        shards: list[int] | None = None,
        as_of_gen: int | None = None,
    ) -> DataFrame | None:
        leaves = self.sub_leaves(name, shards, as_of_gen=as_of_gen)
        if not leaves:
            # distinguish "sub-table exists but the requested shards are
            # empty" (empty frame of unknown schema is unbuildable here —
            # callers restricting by shard handle None as no-rows) from
            # "never committed"
            return None
        return spark.read.parquet(*leaves)

    def shard_of(self, *cols):
        """The shard expression readers/writers must share:
        ``pmod(hash(key...), n_shards)`` (Spark's Murmur3 with its
        fixed seed — stable across runs and sessions). Composite keys
        pass every key column."""
        from pyspark.sql import functions as F

        return F.pmod(F.hash(*cols), F.lit(self.n_shards))

    def touched_shards(self, df: DataFrame, *cols: str) -> list[int]:
        """The distinct shard ids ``df``'s key column(s) hash into —
        the driver-side probe every shard-pruned read/replacement
        starts from (O(n_shards) scalars, never rows). One Spark
        action."""
        from pyspark.sql import functions as F

        return sorted(
            r.s
            for r in df.select(
                self.shard_of(*[F.col(c) for c in cols]).alias("s")
            )
            .distinct()
            .collect()
        )

    def user_meta(self) -> dict | None:
        """The caller-supplied marker stored INSIDE the manifest (see
        :meth:`commit_delta`'s ``user_meta``), or None before the first
        commit."""
        m = self._load_manifest()
        return None if m is None else m.get("user_meta")

    # -- the cross-batch re-send contract (shared) ------------------------
    #
    # ONE implementation of supersede-on-read for every maintainer that
    # adopts it (round-11; neardup + lexical today): append-only
    # fragments carry the batch stamp ``_b`` they were written in, a
    # slim ``resent`` sub-table logs (id, batch_id) whenever an id
    # arrives that the state already holds, and a stored row is LIVE
    # iff its stamp is >= the latest re-send watermark of every id
    # column it names. Two copies of this rule drifting independently
    # was a round-11 review finding — maintainers call these, never
    # reimplement them.

    def resend_watermarks(
        self, spark: SparkSession, id_col: str, as_of_gen: int | None = None
    ) -> DataFrame | None:
        """(id_col, _wm): each ever-re-sent id's latest re-send batch,
        from the ``resent`` sub-table (None before any re-send).
        ``as_of_gen`` reads the watermark log AS OF a retained
        generation — a time-travel read must filter with the watermarks
        that generation saw, or a later re-send would retroactively
        hide rows that WERE live in the travelled-to snapshot."""
        from pyspark.sql import functions as F

        r = self._read_sub(spark, "resent", as_of_gen=as_of_gen)
        if r is None:
            return None
        return r.groupBy(id_col).agg(F.max("batch_id").alias("_wm"))

    def live_rows(
        self,
        df: DataFrame | None,
        wm: DataFrame | None,
        id_col: str,
        cols: list[str],
        keep_stamp: bool = False,
    ) -> DataFrame | None:
        """Drop rows whose ``_b`` stamp predates any of ``cols``'
        re-send watermark; strips ``_b`` (unless ``keep_stamp`` — the
        compaction rewrite preserves stamps so the sub-table stays
        contract-mode); restores the stored column order (equi-joins
        hoist their key first). Unstamped (legacy) frames pass through
        untouched — no stamps, no contract."""
        from pyspark.sql import functions as F

        if df is None:
            return None
        if "_b" not in df.columns:
            return df
        out_cols = (
            list(df.columns)
            if keep_stamp
            else [c for c in df.columns if c != "_b"]
        )
        if wm is not None:
            for c in cols:
                w = wm.select(
                    F.col(id_col).alias(c), F.col("_wm").alias(f"_wm_{c}")
                )
                df = (
                    df.join(F.broadcast(w), c, "left")
                    .filter(
                        F.col(f"_wm_{c}").isNull()
                        | (F.col("_b") >= F.col(f"_wm_{c}"))
                    )
                    .drop(f"_wm_{c}")
                )
        return df.select(*out_cols)

    # -- commit ---------------------------------------------------------------

    @staticmethod
    def _referenced(manifest: dict) -> set[str]:
        return {
            rel
            for frags in manifest["subs"].values()
            for frag in frags
            for rel in frag.values()
        }

    def _gc(self, manifest: dict) -> None:
        """Delete every on-disk leaf the manifest neither references nor
        retains for grace (``retired``) — orphans from a crashed commit
        (written, never flipped live) and leaves superseded by a shard
        replacement or compaction whose grace has lapsed."""
        referenced = self._referenced(manifest) | {
            p for entry in manifest.get("retired", []) for p in entry["paths"]
        }
        if not os.path.isdir(self.path):
            return
        for sub in os.listdir(self.path):
            subdir = os.path.join(self.path, sub)
            if not os.path.isdir(subdir):
                continue  # MANIFEST.json / tmp files
            for frag in os.listdir(subdir):
                fragdir = os.path.join(subdir, frag)
                rel = f"{sub}/{frag}"
                if rel in referenced:
                    continue
                shard_children = [
                    c for c in os.listdir(fragdir) if c.startswith(_SHARD + "=")
                ] if os.path.isdir(fragdir) else []
                if shard_children:
                    kept = False
                    for c in shard_children:
                        if f"{rel}/{c}" in referenced:
                            kept = True
                        else:
                            shutil.rmtree(os.path.join(fragdir, c))
                    if not kept:
                        shutil.rmtree(fragdir)
                elif os.path.isdir(fragdir):
                    shutil.rmtree(fragdir)
            if not os.listdir(subdir):
                os.rmdir(subdir)

    def _write_sharded(self, df: DataFrame, dest: str) -> dict[str, str]:
        """Write ``df`` (which must carry a ``_shard`` column) partitioned
        by shard; return {shard: relpath} for the leaves produced."""
        df.write.partitionBy(_SHARD).parquet(dest)
        rel = os.path.relpath(dest, self.path)
        out = {}
        for child in sorted(os.listdir(dest)):
            if child.startswith(_SHARD + "="):
                out[child.split("=", 1)[1]] = f"{rel}/{child}"
        return out

    def _flip(self, manifest: dict) -> None:
        """Atomically install ``manifest`` as the live one (write tmp,
        fsync, rename, fsync the directory — THE commit point), then GC
        leaves that are neither referenced nor inside the
        ``gc_grace_gens`` retention window. The single copy of the flip
        protocol, shared by commit_delta and compact."""
        if self.gc_grace_gens > 0:
            # newly superseded leaves enter the retention list stamped
            # with the generation that retired them; entries older than
            # the grace window fall out and _gc below deletes them
            # (prev is loaded only on this branch — the default
            # immediate-GC path pays no extra manifest read)
            prev = self._load_manifest()
            retired = list((prev or {}).get("retired", []))
            superseded = sorted(
                (self._referenced(prev) if prev else set())
                - self._referenced(manifest)
            )
            if superseded:
                retired.append({"gen": manifest["gen"], "paths": superseded})
            cutoff = manifest["gen"] - self.gc_grace_gens
            manifest["retired"] = [e for e in retired if e["gen"] > cutoff]
            # Generation HISTORY for time-travel reads, embedded in the
            # SAME manifest so snapshot and flip are one atomic rename
            # (a side history file would reopen the crash window the
            # in-manifest user_meta marker closed): the outgoing
            # generation's fragment map + marker become readable via
            # as_of_gen for as long as the grace window retains their
            # superseded leaves — the same cutoff by construction, so a
            # retained generation is always fully readable. Assigned,
            # never merged: compact() passes the loaded manifest
            # through by mutation and would otherwise carry stale
            # entries.
            history = dict((prev or {}).get("history", {}))
            if prev is not None:
                snap = {"subs": prev["subs"]}
                if prev.get("user_meta") is not None:
                    snap["user_meta"] = prev["user_meta"]
                history[str(prev["gen"])] = snap
            # a generation at exactly the cutoff is still fully
            # readable: any leaf it references that was later
            # superseded has a retire-gen ≥ cutoff+1, inside the leaf
            # retention above — so >= cutoff is the maximal safe window
            # (grace N ⇒ the N generations before live stay readable)
            manifest["history"] = {
                g: s for g, s in history.items() if int(g) >= cutoff
            }
        else:
            # grace switched off: previously retained leaves expire now
            # (compact() passes the loaded manifest through by mutation,
            # which would otherwise carry a stale retention list forever)
            manifest.pop("retired", None)
            manifest.pop("history", None)
        tmp = self._manifest_file() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, self._manifest_file())  # <- the commit point
        # fsync the containing directory so the rename itself survives
        # power loss (see the class docstring for the fragment-data
        # durability assumption)
        dirfd = os.open(self.path, os.O_RDONLY)
        try:
            os.fsync(dirfd)
        finally:
            os.close(dirfd)
        self._gc(manifest)

    def commit_delta(
        self,
        batch_id: int | None,
        appends: dict[str, DataFrame] | None = None,
        sharded_appends: dict[str, DataFrame] | None = None,
        shard_replacements: dict[str, tuple[DataFrame, list[int]]] | None = None,
        full: dict[str, DataFrame] | None = None,
        drop: list[str] | None = None,
        user_meta: dict | None = None,
    ) -> None:
        """Write this batch's delta fragments, then flip the manifest —
        the single atomic commit point covering every sub-table AND the
        applied-batch ledger.

        ``user_meta`` stores a caller marker (e.g. frozen-artifact
        fingerprints) INSIDE the manifest, so marker and state change
        in the SAME atomic flip — a side-file marker would reopen the
        crash window between state swap and marker write that lets a
        restarted maintainer silently mix index generations. Omitted ⇒
        the existing marker is carried forward unchanged.

        ``shard_replacements`` maps a sub-table to ``(df, touched)``:
        ``df`` holds the COMPLETE new content of the touched shards
        (carrying a ``_shard`` column computed with :meth:`shard_of`),
        ``touched`` names them explicitly — a touched shard whose new
        content is empty is dropped, which the written leaves alone
        could not express.

        ``drop`` removes whole sub-tables from the manifest (their
        leaves GC after the flip) — how a rebuild retires a tier it no
        longer derives; leaving the entries in place would silently
        serve index rows encoded under retired artifacts.

        ``batch_id=None`` commits WITHOUT touching the applied-batch
        ledger — for out-of-band maintenance (an offline rebuild on an
        empty ledger) that must not fabricate a batch id: recording 0
        there would make a stream started afterwards silently skip its
        real batch 0 as a replay."""
        manifest = self._manifest()
        self._gc(manifest)  # orphans from a crashed previous commit
        gen = manifest["gen"] + 1
        os.makedirs(self.path, exist_ok=True)
        subs = {k: [dict(f) for f in v] for k, v in manifest["subs"].items()}
        for name in drop or []:
            subs.pop(name, None)

        for name, df in (appends or {}).items():
            dest = os.path.join(self.path, name, f"g{gen}")
            df.write.parquet(dest)
            subs.setdefault(name, []).append({"_": f"{name}/g{gen}"})
        for name, df in (sharded_appends or {}).items():
            dest = os.path.join(self.path, name, f"g{gen}")
            leaves = self._write_sharded(df, dest)
            if leaves:
                subs.setdefault(name, []).append(leaves)
        for name, (df, touched) in (shard_replacements or {}).items():
            old = subs.get(name, [])
            if any("_" in frag for frag in old):
                raise ValueError(
                    f"ManifestSwapTable: sub-table {name!r} has unsharded "
                    "fragments — shard replacement cannot drop a key's rows "
                    "from an unsharded fragment. Use sharded writes for this "
                    "sub-table from the first commit (or compact with a "
                    "shard column first)."
                )
            dest = os.path.join(self.path, name, f"g{gen}")
            leaves = self._write_sharded(df, dest)
            touched_keys = {str(s) for s in touched}
            extra = set(leaves) - touched_keys
            if extra:
                # a replacement frame carrying shards outside the
                # declared touched list would silently DUPLICATE those
                # shards' rows (old leaf kept AND new leaf added) — a
                # caller bug this commit must refuse, not corrupt reads
                raise ValueError(
                    f"ManifestSwapTable: shard replacement for {name!r} "
                    f"wrote shard(s) {sorted(extra)} outside the declared "
                    f"touched set {sorted(touched_keys)} — the frame's "
                    "_shard values must be a subset of `touched`."
                )
            kept = [
                {k: v for k, v in frag.items() if k not in touched_keys}
                for frag in old
            ]
            subs[name] = [f for f in kept if f] + ([leaves] if leaves else [])
        for name, df in (full or {}).items():
            dest = os.path.join(self.path, name, f"g{gen}")
            df.write.parquet(dest)
            subs[name] = [{"_": f"{name}/g{gen}"}]

        applied = set(manifest["applied_batches"])  # already loaded above
        new_manifest = {
            "gen": gen,
            "applied_batches": sorted(
                applied if batch_id is None else applied | {batch_id}
            ),
            "subs": subs,
            "n_shards": self.n_shards,
        }
        # json-normalize so a tuple-valued config compares equal to its
        # stored (list) form on the next validation
        carried = (
            manifest.get("user_meta") if user_meta is None else user_meta
        )
        if carried is not None:
            new_manifest["user_meta"] = json.loads(json.dumps(carried))
        self._flip(new_manifest)

    def compact(
        self, spark: SparkSession, name: str, shard_col: str | None = None
    ) -> None:
        """Fold a sub-table's fragments into one (offline maintenance).
        With ``shard_col`` the compacted fragment is shard-partitioned,
        which also migrates an unsharded-append sub-table onto the
        shard-replacement path. A sub-table that is ALREADY
        shard-partitioned refuses an unsharded compaction: silently
        dropping the layout would reinstate full-index guard reads and
        break future shard replacements — pass the key column."""
        df = self._read_sub(spark, name)
        if df is None:
            return
        manifest = self._manifest()
        if shard_col is None and any(
            k != "_" for frag in manifest["subs"].get(name, []) for k in frag
        ):
            raise ValueError(
                f"ManifestSwapTable.compact: sub-table {name!r} is "
                "shard-partitioned — compacting it unsharded would silently "
                "retire the shard layout its pruned reads and shard "
                "replacements depend on. Pass shard_col=<key column> to "
                "preserve it."
            )
        # orphans from a crashed previous commit occupy the next gen's
        # fragment names — the same pre-write GC commit_delta does, or
        # the compacting write fails on PATH_ALREADY_EXISTS
        self._gc(manifest)
        gen = manifest["gen"] + 1
        dest = os.path.join(self.path, name, f"g{gen}")
        if shard_col is None:
            df.write.parquet(dest)
            manifest["subs"][name] = [{"_": f"{name}/g{gen}"}]
        else:
            leaves = self._write_sharded(
                df.withColumn(_SHARD, self.shard_of(shard_col)), dest
            )
            manifest["subs"][name] = [leaves] if leaves else []
        manifest["gen"] = gen
        manifest["n_shards"] = self.n_shards  # backfill legacy manifests
        self._flip(manifest)

    def maybe_compact(
        self,
        spark: SparkSession,
        name: str,
        shard_col: str | None = None,
        max_fragments: int = 64,
    ) -> bool:
        """Fold ``name`` when its fragment count exceeds
        ``max_fragments`` — the log-structured amortization for
        APPEND-ONLY sub-tables, whose fragment count otherwise grows
        one per batch (the classic small-file problem; a 10k-trigger
        stream would union 10k files per read). Shard-REPLACEMENT
        sub-tables self-bound at ``n_shards`` fragments (every shard's
        current leaf lives in exactly one fragment) and never need
        this.

        The fold is O(sub-table) when it fires, amortized
        O(rows / max_fragments) per trigger — maintainers call it
        right after their commit, so a crash in between loses only
        the compaction, never a batch. At warehouse scale, run the
        same fold from a separate maintenance cadence instead if
        trigger-latency jitter matters; correctness is identical.
        Returns whether a fold ran."""
        m = self._load_manifest()
        if m is None or len(m["subs"].get(name, ())) <= max_fragments:
            return False
        self.compact(spark, name, shard_col=shard_col)
        return True

    def compact_resends(
        self,
        spark: SparkSession,
        id_col: str,
        subs: dict[str, tuple[list[str], str | None, bool]],
    ) -> bool:
        """Physically fold the re-send contract's accumulated state
        (round-11 verdict missing #3 — the one scale tax the
        supersede-on-READ contract leaves): rewrite every stamped
        sub-table with its superseded rows REMOVED and truncate the
        ``resent`` watermark log, all in ONE atomic manifest flip.
        After it, ``live_rows`` has no watermark frame to join
        (``resend_watermarks`` → None), so every read drops the
        per-read broadcast join that otherwise grows with re-send
        volume, and the dead bytes leave the disk. ``_b`` stamps are
        PRESERVED on the rewritten rows, so the directory stays
        contract-mode: the next re-send opens a fresh watermark whose
        batch id is strictly greater than every retained stamp
        (foreachBatch ids are monotone), and the live rule keeps
        working unchanged.

        ``subs`` maps each participating sub-table to
        ``(id_cols, shard_col, distinct)``:

        * ``id_cols`` — the columns the live rule filters on (a pair
          table names both endpoints), exactly what the maintainer's
          reads pass to :meth:`live_rows`;
        * ``shard_col`` — None folds to one unsharded fragment
          (append-only subs); a column rewrites ALL hash shards in
          place, preserving the pruned-read layout (the compact()
          rule);
        * ``distinct`` — collapse duplicate rows after the live filter
          (slim UNSTAMPED id-lookup sides, where a re-sent id appended
          one row per send and presence is the only signal).

        O(live state) when it fires — the same cost class as
        :meth:`compact`, run from a maintenance cadence, not per
        trigger. Single-writer discipline applies: call between
        batches of the owning stream. Returns False (no commit) when
        no re-send was ever logged."""
        wm = self.resend_watermarks(spark, id_col)
        if wm is None:
            return False  # no resent sub-table: nothing to fold
        full: dict[str, DataFrame] = {}
        shard_repl: dict[str, tuple[DataFrame, list[int]]] = {}
        from pyspark.sql import functions as F

        for name, (cols, shard_col, distinct) in subs.items():
            df = self._read_sub(spark, name)
            if df is None:
                continue
            live = self.live_rows(df, wm, id_col, cols, keep_stamp=True)
            if distinct:
                live = live.dropDuplicates()
            if shard_col is None:
                full[name] = live
            else:
                shard_repl[name] = (
                    live.withColumn(_SHARD, self.shard_of(F.col(shard_col))),
                    list(range(self.n_shards)),
                )
        self.commit_delta(
            None,  # out-of-band maintenance: the batch ledger is not a batch
            full=full or None,
            shard_replacements=shard_repl or None,
            drop=["resent"],
        )
        return True

    def maybe_compact_resends(self, spark: SparkSession, max_resent_rows: int) -> bool:
        """Threshold-driven re-send GC — the amortization that keeps the
        watermark log and its per-read join bounded WITHOUT an operator
        remembering to run maintenance: fold when the ``resent`` log
        exceeds ``max_resent_rows`` rows. The probe is one count over
        the slim log; adopters call it on their re-send path only (the
        common no-re-send trigger pays nothing). Requires the
        maintainer's no-arg ``compact_resends(spark)`` override (every
        contract adopter has one) — the base method cannot know which
        sub-tables participate, so an adopter that sets
        ``resend_gc_rows`` without the override gets a clear
        NotImplementedError here, not a TypeError mid-GC (round-12
        ADVICE)."""
        import inspect

        try:
            sig = inspect.signature(self.compact_resends)
            needs_more = any(
                p.default is inspect.Parameter.empty
                and p.kind
                in (
                    inspect.Parameter.POSITIONAL_ONLY,
                    inspect.Parameter.POSITIONAL_OR_KEYWORD,
                    inspect.Parameter.KEYWORD_ONLY,
                )
                for p in list(sig.parameters.values())[1:]  # beyond spark
            )
        except (TypeError, ValueError):  # C-level / unsignatured callable
            needs_more = False
        if needs_more:
            raise NotImplementedError(
                f"{type(self).__name__} enables threshold re-send GC but "
                "does not override compact_resends(spark) with a no-arg "
                "form naming its participating sub-tables; implement "
                "`def compact_resends(self, spark): return "
                "super().compact_resends(spark, id_col, subs)` (see the "
                "neardup/lexical/semdedup/ivf adopters)."
            )
        r = self._read_sub(spark, "resent")
        if r is None or r.count() <= max_resent_rows:
            return False
        return self.compact_resends(spark)


class AdditiveStatsMaintainer(Maintainer, ManifestSwapTable):
    """Shared choreography for SMALL additive-counts maintainers (gate,
    token and importance accounting, drift histograms): replay no-op,
    per-batch counts merged additively, marker-guarded absorbs and
    reads. The frozen-config marker rides in the manifest
    (``commit_delta(user_meta=...)``), so marker and counts change in
    the same flip: no state can exist without its marker, and a reader
    holding changed frozen config cannot be served the counts
    unvalidated.

    Subclasses provide :meth:`_meta` (the frozen-config marker),
    :meth:`_batch_counts` (this batch's contribution — must share its
    builder with the batch query so twin and query cannot drift),
    :meth:`_merge` (additive combine), and the guard message hooks."""

    _SUB = "counts"

    def _meta(self) -> dict:
        raise NotImplementedError

    def _batch_counts(self, spark: SparkSession, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _merge(self, counts: DataFrame, inc: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _guard_what(self) -> str:
        return f"{type(self).__name__} (state at {self.path})"

    def _guard_hint(self) -> str:
        raise NotImplementedError

    def _empty_msg(self) -> str:
        return f"{type(self).__name__}: nothing ingested yet"

    def _guard(self, meta: dict) -> None:
        """Raise unless the committed state (if any) was built under
        ``meta``."""
        m = self._load_manifest()
        if m is not None:
            _check_meta(
                m.get("user_meta"), meta, self._guard_what(), self._guard_hint()
            )

    def _absorb(self, batch_df: DataFrame, batch_id: int) -> None:
        meta = self._meta()
        self._guard(meta)
        spark = batch_df.sparkSession
        inc = self._batch_counts(spark, batch_df)
        counts = self._read_sub(spark, self._SUB)
        merged = inc if counts is None else self._merge(counts, inc)
        self.commit_delta(batch_id, full={self._SUB: merged}, user_meta=meta)

    def _read_counts_guarded(self, spark: SparkSession) -> DataFrame:
        """The marker-validated counts read every derived view starts
        from."""
        self._guard(self._meta())
        counts = self._read_sub(spark, self._SUB)
        if counts is None:
            raise ValueError(self._empty_msg())
        return counts
