"""Streaming connected components: a near-dup PAIR stream keeps the
dedup clustering current via ``foreachBatch`` — the continuous form of
``operators/dedup.py::dedup_clusters`` (q73/q86's batch face), closing
the last gap of the streamed dedup pipeline (near-dup pair maintainers
exist since round 6; turning pairs into KEEP-ONE clusters still needed
a batch pass over all pairs so far).

Components are MERGEABLE: CC(G₁ ∪ G₂) == merge(CC(G₁), edges of G₂) —
new edges can only JOIN existing components, never split them — so a
micro-batch only has to contract the QUOTIENT graph (its edges with
endpoints mapped to their current component labels), which is
batch-sized, never corpus-sized. State:

* ``members`` — (node, comp): each node's component label AT INSERT
  time (node-hash sharded, append-only — a node's row is never
  rewritten; later merges are captured by aliases). O(batch) bytes per
  trigger.
* ``aliases`` — (comp, into): the merge log, maintained at the
  DEPTH-1 invariant — ``into`` is always a CURRENT canonical label —
  so read-side resolution is ONE join, never an iterative chase. Only
  labels some PERSISTED row can still reference get an alias (a fresh
  node's members row is written with its post-merge canonical
  directly), so the table grows with merged pre-existing labels, not
  with the corpus. The invariant is preserved per batch by
  re-parenting the alias rows whose target itself merged (into-hash
  sharded, touched-shard rewrites — each touched shard's current
  rows, O(aliases / n_shards) per shard, with the touched set sized
  by this batch's merges).

Canonical labels are MIN-label by induction: a fresh node's comp is
its own id, and every merge keeps the minimum label of the merged
set, so a component's canonical label is the minimum node id it
contains — bit-for-bit the cluster_id ``dedup_clusters`` and the
recursive-CTE oracles emit. Exactness (property-tested, and q218
shares q73's oracle verbatim): components(after batch k) == batch CC
over every pair ingested through batch k.

Exactly-once: the shared manifest protocol
(``streaming/swap.py::ManifestSwapTable``) — members append, alias
shard replacements, and the ledger flip in ONE atomic rename.

Re-send contract (round-11): this maintainer consumes EDGES, not
documents, and an edge re-sent in any later batch is idempotent by
construction (CC(G ∪ e) == CC(G) for e ∈ G — the quotient contraction
of an already-joined pair is a no-op). What is deliberately NOT
offered is edge REVOCATION — un-sending a pair because a re-sent
document's new payload no longer matches: removing an edge can split
a component, and decremental connectivity is fundamentally outside
the mergeable-CC model this maintainer's O(batch) guarantee rests on.
The pipeline answer is composition: the upstream pair maintainer
(``streaming/neardup.py``) is re-send-correct on READ (stale pairs of
a superseded payload filter out, q231), so a corpus whose documents
mutate rebuilds its clustering from the LIVE pair view — a batch
``dedup_clusters`` pass — rather than asking CC to forget edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beast_spark.operators.dedup import dedup_clusters
from beast_spark.streaming.swap import Maintainer, ManifestSwapTable

__all__ = ["ComponentsMaintainer"]


class ComponentsMaintainer(Maintainer, ManifestSwapTable):
    """Owns one manifest-committed state directory (members+aliases),
    fed by a (doc1, doc2) pair stream."""

    def __init__(self, path: str, n_shards: int = 16, gc_grace_gens: int = 0):
        ManifestSwapTable.__init__(
            self, path, n_shards=n_shards, gc_grace_gens=gc_grace_gens
        )

    # -- reads ------------------------------------------------------------

    def read_components(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame:
        """(doc_id, cluster_id) over every pair ingested so far — q73's
        output shape. One join: members against the depth-1 alias
        table (an unaliased comp IS canonical)."""
        members = self._read_sub(spark, "members", as_of_gen=as_of_gen)
        if members is None:
            if as_of_gen is None and not self.applied_batches():
                raise ValueError("ComponentsMaintainer: nothing ingested yet")
            # batches committed but every one was empty (or the
            # travelled-to generation predates the first pair): the
            # batch operator returns zero rows here, so must we
            return spark.createDataFrame([], "doc_id long, cluster_id long")
        aliases = self._read_sub(spark, "aliases", as_of_gen=as_of_gen)
        if aliases is None:
            return members.select(
                F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
            )
        return (
            members.join(aliases, "comp", "left")
            .select(
                F.col("node").alias("doc_id"),
                F.coalesce("into", "comp").alias("cluster_id"),
            )
        )

    # -- the foreachBatch body ---------------------------------------------

    def _absorb(self, pairs_df: DataFrame, batch_id: int) -> None:
        """Absorb one micro-batch of near-dup pairs (doc1, doc2)."""
        spark = pairs_df.sparkSession
        # the batch's pairs feed the node probe, the quotient build and
        # the members append — persist so the (possibly expensive)
        # upstream pair source is evaluated once
        pairs = (
            pairs_df.select(
                F.col("doc1").alias("a"), F.col("doc2").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .persist()
        )
        try:
            if pairs.isEmpty():
                # quiet trigger: record the batch, touch nothing else —
                # no empty fragments, no generation churn beyond the
                # ledger flip
                self.commit_delta(batch_id)
                return
            self._apply(spark, pairs, batch_id)
        finally:
            pairs.unpersist()

    def _apply(self, spark: SparkSession, pairs: DataFrame, batch_id: int) -> None:
        nodes = (
            pairs.select(F.col("a").alias("node"))
            .unionByName(pairs.select(F.col("b").alias("node")))
            .distinct()
        )
        # current label of every touched node: probe ONLY the node
        # shards this batch hashes into, then resolve through the
        # depth-1 aliases (one broadcast of the batch's comps would
        # also work, but the alias table is slim — a plain join keeps
        # the plan size-agnostic)
        touched_shards = self.touched_shards(nodes, "node")
        known = self._read_sub(spark, "members", shards=touched_shards)
        if known is None:
            known = spark.createDataFrame([], "node long, comp long")
        known = known.join(F.broadcast(nodes), "node", "left_semi")
        aliases = self._read_sub(spark, "aliases")
        if aliases is not None:
            known = known.join(aliases, "comp", "left").select(
                "node", F.coalesce("into", "comp").alias("comp")
            )
        # fresh nodes label themselves (min-label induction base); the
        # labeled frame is read by both quotient sides and the members
        # append — persist for the batch
        labeled = (
            nodes.join(known, "node", "left")
            .select("node", F.coalesce("comp", F.col("node")).alias("comp"))
            .persist()
        )
        try:
            la = labeled.select(F.col("node").alias("a"), F.col("comp").alias("ca"))
            lb = labeled.select(F.col("node").alias("b"), F.col("comp").alias("cb"))
            quotient = (
                pairs.join(la, "a")
                .join(lb, "b")
                .filter(F.col("ca") != F.col("cb"))
                .select(F.col("ca").alias("doc1"), F.col("cb").alias("doc2"))
                .distinct()
            )
            # contract the batch-sized quotient: (comp, canonical) for
            # every comp that merged this batch; min-label by
            # dedup_clusters' contract
            merges = dedup_clusters(quotient).select(
                F.col("doc_id").alias("comp"), F.col("cluster_id").alias("into")
            )
            new_aliases = merges.filter(F.col("comp") != F.col("into")).persist()
            try:
                # members: append ONLY the fresh nodes, labeled with
                # their POST-merge canonical (so a fresh node's row
                # never needs an alias of its own for this batch's
                # merges)
                fresh = (
                    labeled.join(F.broadcast(known.select("node")), "node", "left_anti")
                    .join(F.broadcast(new_aliases), "comp", "left")
                    .select("node", F.coalesce("into", "comp").alias("comp"))
                )
                # Alias rows are inserted ONLY for merged labels some
                # persisted row can still reference — i.e. resolved
                # labels of KNOWN nodes (a merged fresh self-label is
                # unreferenced by construction: its members rows are
                # written post-merge, and no existing alias can target
                # a never-seen id). Every referenced label that merges
                # this batch is a known node's resolved comp, so this
                # filter loses nothing — and it is what keeps the alias
                # table proportional to merged pre-existing labels
                # instead of the corpus (review finding: the unfiltered
                # form left one dead row per merged fresh node).
                insert_aliases = new_aliases.join(
                    F.broadcast(known.select("comp").distinct()), "comp", "left_semi"
                )
                # re-parent every existing alias whose target itself
                # merged (depth-1 invariant). Touched shards — ONE
                # probe: old targets (rows removed), new targets (rows
                # land), insert sources.
                alias_shards = self.touched_shards(
                    new_aliases.select(F.col("comp").alias("x")).unionByName(
                        new_aliases.select(F.col("into").alias("x"))
                    ),
                    "x",
                )
                old_alias_rows = self._read_sub(spark, "aliases", shards=alias_shards)
                reparent = (
                    new_aliases.select(
                        F.col("comp").alias("into"), F.col("into").alias("_new")
                    )
                )
                if old_alias_rows is None:
                    kept_rows = spark.createDataFrame([], "comp long, into long")
                else:
                    kept_rows = old_alias_rows.join(
                        F.broadcast(reparent), "into", "left"
                    ).select("comp", F.coalesce("_new", "into").alias("into"))
                alias_content = kept_rows.unionByName(
                    insert_aliases.select("comp", "into")
                )
                # rows whose re-parented target hashes OUTSIDE the read
                # shards would be silently duplicated by the shard
                # replacement — both old and new shards are in
                # alias_shards by construction (old into ∈ merged comps,
                # new into ∈ merge targets)
                self.commit_delta(
                    batch_id,
                    sharded_appends={
                        "members": fresh.withColumn(
                            "_shard", self.shard_of(F.col("node"))
                        )
                    },
                    shard_replacements={
                        "aliases": (
                            alias_content.withColumn(
                                "_shard", self.shard_of(F.col("into"))
                            ),
                            alias_shards,
                        )
                    },
                )
            finally:
                new_aliases.unpersist()
        finally:
            labeled.unpersist()
