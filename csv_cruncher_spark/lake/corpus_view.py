"""An incrementally-maintained training corpus over a
:class:`~csv_cruncher_spark.lake.table.LakeTable` — the CDC capstone:
pair it with the change-log tailer and the SELECTED corpus (gate →
exact-dedup keeper → quota → split, the same semantics as
:func:`csv_cruncher_spark.operators.corpus.build_corpus` with fixed
quotas) follows the table at O(changed fingerprint groups) per poll,
never a table rescan after bootstrap.

Why this needs state of its own: every build_corpus decision is a pure
row function EXCEPT keeper election — "min url per content
fingerprint" depends on the OTHER members of the group, so a delete of
the current keeper must promote the next-smallest member, and the lake
table (bucketed by url) cannot find a fingerprint's members without a
full scan. The store therefore keeps every GATE-PASSING row's
(url, fp, lang) — tiny columns, one row per live doc — bucketed by
``pmod(xxhash64(fp), n_buckets)``, so a fingerprint group always lives
in exactly one bucket and election is bucket-local. A refresh touches
only the buckets containing fingerprints present in the epoch range's
change feed (old image AND new image, so moves between groups update
both sides), rewrites those buckets with flags recomputed, and
publishes the new bucket map through the store every maintained view
shares (``lake.view_store``: fsynced pointer swap, the lake's crash
discipline). Bootstrap and refresh are that module's epoch loop; only
the fold — the bucket-scoped rewrite and the near-dup screen — is this
class's own, and refresh is idempotent per epoch.

Deliberately NOT supported: ``temperature=`` mixing — its per-stratum
fractions depend on the global histogram, so a single changed row can
re-threshold every stratum; that is a rebuild-time decision, not an
incremental one. Fixed quotas are pure per-row and maintain exactly.

Near-duplicate maintenance (round-4 verdict #6): with ``near_dup=True``
every member row also stores its MinHash signature (8·n_hashes bytes,
computed once from the feed's text and carried through bucket rewrites
— signatures are pure functions of text, and a changed url is
removed+readded). At refresh, gate-passing additions are LSH-screened
against the stored members (banded probe join on the narrow
(url, signature) columns — parquet prunes everything else; the table's
payloads never participate) and against each other; an addition whose
estimated Jaccard to a DIFFERENT-fingerprint member reaches the
threshold is rejected before it enters the store. Same-fingerprint
matches are exempt — exact duplicates are the keeper election's job,
and rejecting them would break succession. Precedence is deterministic:
vs the corpus, stored wins; within a batch, the smaller url wins.

Two documented limitations (the rebuild-cadence contract): (1) the
screen uses the minhash ESTIMATE (probabilistic recall, the production
LSH trade — the batch pipeline's ``build_corpus(near_dup=...)`` exact
path remains the rebuild-time gold standard); (2) a rejection is
permanent — if the member that caused it is later deleted, the rejected
url does NOT resurrect (it was never stored). Both converge on the next
full rebuild/bootstrap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import sampling, textstats
from . import view_store
from .view_store import EpochView

__all__ = ["MaintainedCorpus"]


class MaintainedCorpus(EpochView):
    def __init__(
        self,
        table_path: str,
        store_path: str,
        *,
        min_tokens: int = 1,
        quotas: dict[str, float] | None = None,
        default_quota: float = 1.0,
        splits: dict[str, float] | None = None,
        sample_salt: str = "mix-v1",
        split_salt: str = "split-v1",
        n_buckets: int = 16,
        near_dup: bool = False,
        near_dup_jaccard: float = 0.5,
        n_hashes: int = 64,
        lsh_bands: int = 16,
        shingle_k: int = 3,
    ):
        self.table_path = table_path
        self.store_path = store_path
        self.min_tokens = min_tokens
        self.quotas = quotas or {}
        self.default_quota = default_quota
        self.splits = splits or {"train": 1.0}
        self.sample_salt = sample_salt
        self.split_salt = split_salt
        self.n_buckets = n_buckets
        self.near_dup = near_dup
        self.near_dup_jaccard = near_dup_jaccard
        self.n_hashes = n_hashes
        self.lsh_bands = lsh_bands
        self.shingle_k = shingle_k

    # -- plan pieces -------------------------------------------------------
    def _gate_members(self, df: DataFrame, keep_text: bool = False) -> DataFrame:
        """(url, lang, fp, bucket) for gate-passing rows of ``df``;
        ``keep_text`` keeps the text column for signature computation /
        near-dup screening (dropped before anything is stored)."""
        cols = [
            F.col("url"),
            F.col("lang"),
            textstats.normalized_fingerprint("text").alias("fp"),
        ]
        if keep_text:
            cols.append(F.col("text"))
        return (
            df.filter(
                textstats.regex_token_count("text") >= F.lit(self.min_tokens)
            )
            .select(*cols)
            .withColumn(
                "bucket", F.pmod(F.xxhash64("fp"), F.lit(self.n_buckets))
            )
        )

    # -- near-dup screening (see module docstring) ---------------------------
    def _near_cfg(self) -> dict:
        return {
            "jaccard": self.near_dup_jaccard,
            "n_hashes": self.n_hashes,
            "bands": self.lsh_bands,
            "shingle_k": self.shingle_k,
        }

    def _adopt_near_cfg(self, st: dict) -> None:
        """The store's near-dup config is fixed at bootstrap (like
        n_buckets): signatures in the store were drawn with it."""
        cfg = st.get("near_dup")
        if cfg:
            self.near_dup = True
            self.near_dup_jaccard = cfg["jaccard"]
            self.n_hashes = cfg["n_hashes"]
            self.lsh_bands = cfg["bands"]
            self.shingle_k = cfg["shingle_k"]
        elif self.near_dup:
            raise ValueError(
                f"store at {self.store_path} was bootstrapped without "
                "near_dup — members carry no signatures; re-bootstrap with "
                "near_dup=True"
            )
        else:
            self.near_dup = False

    def _sign(self, with_text: DataFrame) -> DataFrame:
        from ..operators import dedup as _dedup

        return _dedup.minhash_signatures(
            with_text, "url", "text", self.n_hashes, self.shingle_k
        )

    @staticmethod
    def _cross_fp_rejects(
        pairs: DataFrame, est_col: str, loser_col: str, winner_col: str,
        fps: DataFrame, threshold: float,
    ) -> DataFrame:
        """Distinct loser urls from candidate ``pairs`` whose estimated
        Jaccard reaches ``threshold`` AND whose fingerprints differ —
        same-fp matches are exact duplicates, which stay members so the
        keeper election (and succession) owns them."""
        fa = fps.select(F.col("url").alias(winner_col), F.col("fp").alias("__fp_w"))
        fb = fps.select(F.col("url").alias(loser_col), F.col("fp").alias("__fp_l"))
        return (
            pairs.filter(F.col(est_col) >= F.lit(threshold))
            .join(fa, winner_col)
            .join(fb, loser_col)
            .filter(F.col("__fp_w") != F.col("__fp_l"))
            .select(F.col(loser_col).alias("url"))
            .distinct()
        )

    def _in_batch_rejects(self, sigs: DataFrame, fps: DataFrame) -> DataFrame:
        """Within one addition set: reject any url that near-dups a
        SMALLER url (deterministic precedence), cross-fp only.

        Chains collapse transitively-conservatively: in A~B, B~C (A≁C,
        urls A<B<C) BOTH B and C are rejected — C pairs with a smaller
        url even though that url is itself rejected. This deliberately
        mirrors the batch pipeline (``build_corpus(near_dup=)`` routes
        chains through connected components, which also keeps exactly ONE
        member of {A,B,C}), so maintained and rebuilt corpora agree on
        chain shape; the trade is the usual LSH-dedup one — never admit a
        near-dup, occasionally drop a borderline member of a chain."""
        from ..operators import dedup as _dedup

        pairs = _dedup.lsh_candidate_pairs(
            sigs, "url", self.n_hashes, self.lsh_bands
        )
        scored = _dedup._minhash_rerank(pairs, sigs, sigs, "url", "id_a", "id_b")
        return self._cross_fp_rejects(
            scored, "est_jaccard", "id_b", "id_a", fps, self.near_dup_jaccard
        )

    def _decorate(self, members: DataFrame) -> DataFrame:
        """Election + quota + split flags — bucket-local (fp groups never
        span buckets), all other decisions pure row functions."""
        keeper = F.min("url").over(Window.partitionBy("fp"))
        out = members.withColumn("is_keeper", F.col("url") == keeper)
        pairs = []
        for stratum, frac in sorted(self.quotas.items()):
            pairs += [F.lit(stratum), F.lit(sampling._hex_threshold(frac))]
        thr = (
            F.coalesce(
                F.element_at(F.create_map(*pairs), F.col("lang")),
                F.lit(sampling._hex_threshold(self.default_quota)),
            )
            if pairs
            else F.lit(sampling._hex_threshold(self.default_quota))
        )
        out = out.withColumn(
            "selected",
            F.col("is_keeper")
            & (sampling.hash_bucket(F.col("url"), self.sample_salt) < thr),
        )
        return sampling.assign_split(
            out, "url", self.splits, salt=self.split_salt
        )

    def _write_buckets(self, decorated: DataFrame, epoch: int) -> dict[str, str]:
        rel = f"m-{epoch:08d}"
        out_dir = os.path.join(self.store_path, rel)
        decorated.repartition("bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(out_dir)
        written: dict[str, str] = {}
        for name in os.listdir(out_dir):
            if name.startswith("bucket="):
                written[name.split("=")[1]] = f"{rel}/{name}"
        return written

    def _read_buckets(self, spark: SparkSession, bucket_ids=None) -> DataFrame:
        st = view_store.require_state(self.store_path, "corpus", "bootstrap first")
        paths = [
            os.path.join(self.store_path, p)
            for b, p in st["buckets"].items()
            if bucket_ids is None or int(b) in bucket_ids
        ]
        if not paths:
            return None
        # bucket is a partition column — reading the bucket=N dirs
        # directly drops it, so re-derive it (pure function of fp)
        return spark.read.parquet(*paths).withColumn(
            "bucket", F.pmod(F.xxhash64("fp"), F.lit(st["n_buckets"]))
        )

    # -- lifecycle ---------------------------------------------------------
    def _build(self, spark: SparkSession, table, epoch: int) -> None:
        """Full-scan initialization. With ``near_dup`` the bootstrap also
        collapses pre-existing cross-fp near-dup groups (reject any member
        near-dupping a smaller url — the refresh screen's precedence rule,
        applied once to the full corpus) and stores every member's
        signature."""
        members = self._gate_members(table.read(spark), keep_text=self.near_dup)
        raw = sigs = None
        if self.near_dup:
            raw = members.persist()  # feeds sigs + fp lookup + anti-join
            sigs = self._sign(raw).persist()
            rejects = self._in_batch_rejects(sigs, raw.select("url", "fp"))
            members = (
                raw.join(rejects, "url", "left_anti").join(sigs, "url").drop("text")
            )
        decorated = self._decorate(members)
        buckets = self._write_buckets(decorated, epoch)
        if sigs is not None:
            sigs.unpersist()
            raw.unpersist()
        state = {"epoch": epoch, "n_buckets": self.n_buckets, "buckets": buckets}
        if self.near_dup:
            state["near_dup"] = self._near_cfg()
        view_store.publish(self.store_path, state, "m-")

    def _fold(
        self, spark: SparkSession, table, st: dict, feed: DataFrame, cur: int
    ) -> None:
        """Cost: feed-sized work + a rewrite of ONLY the buckets whose
        fingerprint groups the feed touches (old or new image)."""
        # the store's bucketing is fixed at bootstrap — a constructor
        # passed a different n_buckets must not split fingerprint groups
        # across two schemes; same for the near-dup sketch config
        self.n_buckets = st["n_buckets"]
        self._adopt_near_cfg(st)
        # the feed feeds THREE consumers (touched-fp collect, changed-url
        # anti join, gated additions) — persist it or each re-executes
        # the delta discovery and both keyed endpoint reads
        feed = feed.persist()
        fp_new = textstats.normalized_fingerprint("text")
        fp_old = textstats.normalized_fingerprint("__before.text")
        touched_fp = (
            feed.select(
                F.explode(
                    F.array_compact(
                        F.array(
                            F.when(F.col("__op") != "D", fp_new),
                            F.when(F.col("__before").isNotNull(), fp_old),
                        )
                    )
                ).alias("fp")
            )
            .distinct()
            .withColumn("bucket", F.pmod(F.xxhash64("fp"), F.lit(self.n_buckets)))
        )
        affected = {
            r["bucket"] for r in touched_fp.select("bucket").distinct().collect()
        }
        if not affected:
            # feed had only rows with no gate-relevant images (possible
            # when every change is a delete of a never-inserted key)
            feed.unpersist()
            view_store.publish(self.store_path, {**st, "epoch": cur}, "m-")
            return
        changed_urls = feed.select("url").distinct()
        stored = self._read_buckets(spark, affected)
        survivors = (
            stored.drop("is_keeper", "selected", "split").join(
                changed_urls, "url", "left_anti"
            )
            if stored is not None
            else None
        )
        additions = self._gate_members(
            feed.filter(F.col("__op") != "D").drop("__op", "__before"),
            keep_text=self.near_dup,
        )
        raw_add = add_sigs = None
        if self.near_dup:
            from ..operators import dedup as _dedup

            raw_add = additions.persist()
            add_sigs = self._sign(raw_add).persist()
            in_rejects = self._in_batch_rejects(
                add_sigs, raw_add.select("url", "fp")
            )
            rejects = in_rejects
            # screen vs the stored members — ALL buckets, but only the
            # narrow (url, fp, signature) columns leave parquet; members
            # being changed this refresh are excluded (a doc updating its
            # own text must not self-reject)
            stored_all = self._read_buckets(spark)
            if stored_all is not None:
                stored_all = stored_all.join(changed_urls, "url", "left_anti")
                vs_pairs = _dedup.incremental_lsh_pairs(
                    None,
                    None,
                    "url",
                    "text",
                    n_hashes=self.n_hashes,
                    bands=self.lsh_bands,
                    shingle_k=self.shingle_k,
                    corpus_sigs=stored_all.select("url", "signature"),
                    batch_sigs=add_sigs,
                )
                vs_rejects = self._cross_fp_rejects(
                    vs_pairs,
                    "est_jaccard",
                    "batch_id",
                    "corpus_id",
                    raw_add.select("url", "fp").unionByName(
                        stored_all.select("url", "fp")
                    ),
                    self.near_dup_jaccard,
                )
                rejects = vs_rejects.unionByName(in_rejects).distinct()
            additions = (
                raw_add.join(rejects, "url", "left_anti")
                .join(add_sigs, "url")
                .drop("text")
            )
        members = (
            additions
            if survivors is None
            else survivors.unionByName(additions)
        )
        decorated = self._decorate(members)
        written = self._write_buckets(decorated, cur)
        feed.unpersist()
        if add_sigs is not None:
            add_sigs.unpersist()
            raw_add.unpersist()
        new_buckets = dict(st["buckets"])
        # buckets the rewrite produced no rows for (group emptied) must
        # drop out of the pointer map, not keep serving stale rows
        for b in affected:
            new_buckets.pop(str(b), None)
        new_buckets.update(written)
        # {**st, ...} keeps bootstrap-time config (near_dup sketch params)
        view_store.publish(
            self.store_path, {**st, "epoch": cur, "buckets": new_buckets}, "m-"
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """The selected corpus: (url, lang, fp, split) of every keeper
        that passed its stratum quota — a narrow scan of the bucket
        store, no recompute."""
        df = self._read_buckets(spark)
        if df is None:
            raise ValueError(f"maintained corpus at {self.store_path} is empty")
        return df.filter("selected").select("url", "lang", "fp", "split")
