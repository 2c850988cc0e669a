"""The benchmark's workloads.

Each workload builds its inputs from the seed (``setup``), runs one
operation at a time through the engine's public entry points (``op``)
and checks the outputs.  An operation is one full resolve run for the
resolve workloads and one landed arrival file drained by the streaming
assignment frontier for ``ingest_assign``.  ``resolve_dense_blocks``
runs by hand only; BENCHMARK.json times the other two.

``tracer`` is ``None`` in untraced phases; when set, the workload
records spans around each layer call it makes itself, and
``traced_store`` builds the traced ``StageStore``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time

from pyspark.sql import functions as F

from pubmed_and_method_spark.plans import pipeline
from pubmed_and_method_spark.plans.checkpoint import StageStore
from pubmed_and_method_spark.sources.distributed_datagen import (
    distributed_transcripts,
)

SPEC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")


def load_params(workload: str, size: str) -> dict:
    """Generator parameters from spec.json; size ``tiny`` only proves
    the plumbing (smoke test)."""
    with open(SPEC) as f:
        return dict(json.load(f)["workloads"][workload]["sizes"][size])

#: the BASELINE gate on the clusters of the supervised pipeline (the
#: gate tests/test_pipeline.py enforces)
CLUSTER_F1_GATE = 0.99
#: measured floor of the held-out pair model at the bench size: with
#: 250-300 entities the training set is small enough that about one
#: seed in twenty scores below 0.99 (lowest seen: 0.975, seed 102 at
#: 300 entities, with cluster F1 0.995)
PAIR_F1_FLOOR = 0.95
#: token-Jaccard threshold (num, den) for joining a catalog cluster.
#: The engine's default 1/2 leaves almost every arrival a singleton on
#: this corpus; at the bench size, calibration seeds 1-3 (not the
#: benchmark's) gave assignment F1 0.020-0.047 at 1/2, 0.44-0.47 at
#: 1/3, 0.979-0.993 at 1/5 (the best on each seed), 0.960-0.986 at
#: 1/10, 0.91-0.94 at 1/20 and 0.91-0.94 at 1/50.
ASSIGN_THRESHOLD = (1, 5)
#: measured, with margin: cluster F1 was 0.905 at seed 1 of the bench
#: size and 0.919 at the tiny size (homonyms in the hot block merge)
DENSE_CLUSTER_F1_FLOOR = 0.85

_SIG_COLS = [
    "mention_id", "conv_id", "block_key", "given_name", "surname",
    "token_hashes", "shingle_hashes", "tool_profile", "ts_min", "ts_max",
    "tokens",
]


def _span(tracer, name, **attrs):
    return tracer.span(name, **attrs) if tracer else contextlib.nullcontext()


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def fill_by_turns(df, seed: int, per_part: int, n_parts: int = 1):
    """Whole conversations of ``df`` in hash order, filling ``n_parts``
    parts of ``per_part`` turns each (to within one conversation), so
    the input volume is the same whatever the seed.  Returns
    ``([(conv_id, part)], [turns of each part])``."""
    convs = df.groupBy("conv_id").agg(F.count("*").alias("n")).withColumn(
        "h", F.xxhash64("conv_id", F.lit(seed))).collect()
    convs.sort(key=lambda r: (r.h, r.conv_id))
    parts, turns, b = [], [0] * n_parts, 0
    for r in convs:
        parts.append((r.conv_id, b))
        turns[b] += r.n
        if turns[b] >= per_part:
            b += 1
            if b == n_parts:
                break
    return parts, turns


def f1(tp: int, fp: int, fn: int) -> float:
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


def pair_f1_of(df, label="same_entity", pred="pred") -> float:
    lab, prd = F.col(label) == 1, F.col(pred) == 1
    row = df.agg(
        F.sum((lab & prd).cast("long")).alias("tp"),
        F.sum((~lab & prd).cast("long")).alias("fp"),
        F.sum((lab & ~prd).cast("long")).alias("fn"),
    ).first()
    return f1(row.tp or 0, row.fp or 0, row.fn or 0)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.params = load_params(self.name, size)
        self.checks: list[tuple[str, bool, str]] = []
        self._held = []

    # -- inputs ------------------------------------------------------
    def corpus(self):
        p = self.params
        n = p["n_entities"]
        t, g = distributed_transcripts(
            self.spark, seed=self.seed, n_entities=n,
            n_blocks=max(2, int(n * p["blocks_per_entity"])),
            hot_block_entities=p["hot_block_entities"],
        )
        # truncate the generator's lineage: every later job then plans
        # against a small scan instead of the synthetic expression tree
        t = t.localCheckpoint(eager=True)
        g = g.localCheckpoint(eager=True)
        if "turns" in p:
            parts, _ = fill_by_turns(t, self.seed, p["turns"])
            kept = self.spark.createDataFrame(parts, "conv_id string, part int")
            whole = (t, g)
            t, g = (df.join(kept, "conv_id", "left_semi")
                    .localCheckpoint(eager=True) for df in whole)
            for df in whole:
                df.unpersist()
        return t, g

    def release(self):
        for df in self._held:
            df.unpersist()
        self._held = []

    def setup(self, rep: int) -> None:
        self.release()
        self.t, self.g = self.corpus()
        self._held += [self.t, self.g]
        self.n_turns = self.t.count()

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        return bool(ok)

    def finish(self) -> dict:
        """Run-level output checks; returns quality metrics."""
        return {}


class ResolveSupervised(Workload):
    """``run_pipeline`` end to end (sparse TF-IDF, LSH, GBT, CC) into a
    fresh ``StageStore``."""

    name = "resolve_supervised"

    def op(self, i: int, tracer, traced_store):
        root = os.path.join(self.work, f"stages-{i}")
        store = (traced_store(root) if traced_store
                 else StageStore(self.spark, root))
        t0 = time.perf_counter()
        m = pipeline.run_pipeline(
            self.spark, store, seed=self.seed,
            transcripts=self.t, truth=self.g,
        )
        latency = time.perf_counter() - t0
        nbytes = dir_bytes(root)
        extra = {}
        if tracer is not None:
            from pubmed_and_method_spark.ml.model import grouped_split

            row = store.read("labeled_pairs").agg(
                F.count("*").alias("n"), F.sum("same_entity").alias("t")
            ).first()
            split = grouped_split(store.read("pair_features"), "split_group",
                                  train_pct=70, salt=self.seed)
            extra = {
                "mentions": m["n_mentions"],
                "pairs": row.n,
                "true_pairs": row.t or 0,
                "stage_bytes": nbytes,
                "edges": tracer.last_args["cc"][0].count(),
                "train_rows": split.filter(F.col("is_train") == 1).count(),
            }
        shutil.rmtree(root, ignore_errors=True)
        pf, cf = m["pair_model"]["f1"], m["clusters"]["f1"]
        ok = self.check(
            f"op{i}: cluster_f1 >= {CLUSTER_F1_GATE}"
            f" and pair_f1 >= {PAIR_F1_FLOOR}",
            cf >= CLUSTER_F1_GATE and pf >= PAIR_F1_FLOOR,
            f"pair_f1={pf:.4f} cluster_f1={cf:.4f}",
        )
        return {
            "ok": ok, "latency_s": latency, "turns": self.n_turns,
            "bytes": nbytes, "pair_f1": pf, "cluster_f1": cf, **extra,
        }


class ResolveDenseBlocks(Workload):
    """The unsupervised spine layer by layer: signatures, TF-IDF terms,
    blocking (exact keys + LSH), pair features, threshold match, CC.
    Each layer is materialized where the benchmark calls it."""

    name = "resolve_dense_blocks"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.checksums = []

    def op(self, i: int, tracer, traced_store):
        out = os.path.join(self.work, f"clusters-{i}")
        held = []

        def keep(df):
            df = df.localCheckpoint(eager=True)
            held.append(df)
            return df

        t0 = time.perf_counter()
        with _span(tracer, "signatures"):
            sig = keep(pipeline.build_signatures(self.t, tfidf=False)
                       .select(*_SIG_COLS))
        with _span(tracer, "tfidf"):
            terms = keep(pipeline.build_tfidf_terms(sig, top_k=64))
        with _span(tracer, "blocking"):
            pairs = keep(pipeline.build_labeled_pairs(
                sig, self.g, adaptive_target=32, lsh=True))
        with _span(tracer, "features"):
            feats = pipeline.build_pair_features(pairs, sig, tfidf_terms=terms)
            decided = keep(feats.select(
                "mention_id1", "mention_id2", "same_entity",
                ((F.col("name_jw") > 0.95)
                 & ((F.col("token_jacc") > 0.2)
                    | (F.col("content_tfidf_cos") > 0.4))).cast("int")
                .alias("pred"),
            ))
        with _span(tracer, "cc"):
            comps = pipeline.connected_components(
                decided.filter(F.col("pred") == 1),
                u_col="mention_id1", v_col="mention_id2",
            )
            comps.write.parquet(out)
        latency = time.perf_counter() - t0

        nbytes = dir_bytes(out)
        comps = self.spark.read.parquet(out)
        checksum = comps.select(
            F.coalesce(F.bit_xor(F.xxhash64("id", "component")),
                       F.lit(0).cast("long"))
        ).first()[0]
        self.checksums.append(checksum)
        cc = comps.select(F.col("id").alias("m"), F.col("component").alias("c"))
        joined = (
            decided.join(cc.withColumnRenamed("m", "mention_id1")
                         .withColumnRenamed("c", "c1"), "mention_id1", "left")
            .join(cc.withColumnRenamed("m", "mention_id2")
                  .withColumnRenamed("c", "c2"), "mention_id2", "left")
            .withColumn("cpred", (F.col("c1").isNotNull()
                                  & (F.col("c1") == F.col("c2"))).cast("int"))
        )
        pf = pair_f1_of(decided)
        cf = pair_f1_of(joined, pred="cpred")
        extra = {}
        if tracer is not None:
            row = pairs.agg(F.count("*").alias("n"),
                            F.sum("same_entity").alias("t")).first()
            extra = {
                "mentions": sig.count(), "pairs": row.n,
                "true_pairs": row.t or 0,
                "edges": decided.filter(F.col("pred") == 1).count(),
            }
        for df in held:
            df.unpersist()
        shutil.rmtree(out, ignore_errors=True)
        ok = self.check(
            f"op{i}: cluster_f1 >= {DENSE_CLUSTER_F1_FLOOR}",
            cf >= DENSE_CLUSTER_F1_FLOOR, f"cluster_f1={cf:.4f}",
        )
        return {
            "ok": ok, "latency_s": latency, "turns": self.n_turns,
            "bytes": nbytes, "pair_f1": pf, "cluster_f1": cf, **extra,
        }

    def finish(self) -> dict:
        same = len(set(self.checksums)) <= 1
        self.check(
            "(id, component) checksum identical across operations",
            same, f"{len(self.checksums)} operations",
        )
        return {}


class IngestAssign(Workload):
    """Closed-loop producer: land one arrival file, drain it with
    ``run_incremental_assignments`` (availableNow), repeat.  The
    catalog is seeded from the truth clustering of the conversations
    that do not arrive, about half the corpus."""

    name = "ingest_assign"

    def setup(self, rep: int) -> None:
        from pubmed_and_method_spark.streaming.incremental import (
            _UNBLOCKED,
            _block_bucket,
        )

        super().setup(rep)
        base = os.path.join(self.work, f"ingest-{rep}")
        if rep > 0:
            shutil.rmtree(os.path.join(self.work, f"ingest-{rep - 1}"),
                          ignore_errors=True)
        self.dirs = {k: os.path.join(base, k) for k in
                     ("staged", "in", "ckpt", "catalog", "out")}
        os.makedirs(self.dirs["in"])
        # arrival files of a fixed turn count; the rest of the corpus
        # seeds the catalog
        n_files = self.params["arrival_files"]
        batch, turns = fill_by_turns(
            self.t, self.seed, self.params["arrival_turns_per_file"], n_files)
        arriving = self.spark.createDataFrame(batch, "conv_id string, batch int")
        old = self.t.join(arriving, "conv_id", "left_anti")
        new = self.t.join(arriving, "conv_id")
        sig = pipeline.build_signatures(old, tfidf=False).filter(
            F.col("block_key") != _UNBLOCKED
        )
        seed_cat = sig.join(
            self.g.select("conv_id", F.col("entity_id").alias("cluster")),
            "conv_id",
        ).select(
            F.col("mention_id").alias("member_id"), "cluster",
            F.col("block_key").alias("block"),
            F.col("token_hashes").alias("toks"),
            _block_bucket("block_key"),
        )
        seed_cat.write.partitionBy("block_bucket").parquet(
            self.dirs["catalog"])
        new.repartition("batch").write.partitionBy("batch").parquet(
            self.dirs["staged"])
        self.arrivals = [(f"batch={b}", turns[b]) for b in range(n_files)]
        self.catalog_seed_bytes = dir_bytes(self.dirs["catalog"])
        self.landed = []

    def op(self, i: int, tracer, traced_store):
        """Land and drain ``drains_per_op`` arrival files, one at a time."""
        from pubmed_and_method_spark.streaming.incremental import (
            run_incremental_assignments,
        )

        k = self.params["drains_per_op"]
        batch = self.arrivals[i * k:(i + 1) * k]
        if len(batch) < k:
            return None
        drains, turns = [], 0
        for name, n_turns in batch:
            dst = os.path.join(self.dirs["in"], name.replace("=", "-"))
            os.rename(os.path.join(self.dirs["staged"], name), dst)  # lands
            t0 = time.perf_counter()
            with _span(tracer, "ingest", arrival=name):
                run_incremental_assignments(
                    self.spark, self.dirs["in"] + "/*", self.dirs["ckpt"],
                    self.dirs["catalog"], self.dirs["out"],
                    num=ASSIGN_THRESHOLD[0], den=ASSIGN_THRESHOLD[1],
                )
            drains.append(time.perf_counter() - t0)
            self.landed.append(dst)
            turns += n_turns
        return {"ok": True, "latency_s": sum(drains), "turns": turns,
                "drains": drains}

    def finish(self) -> dict:
        if not self.landed:
            return {}
        spark = self.spark
        landed = spark.read.parquet(*self.landed)
        want = {r[0] + "#assistant" for r in
                landed.select("conv_id").distinct().collect()}
        out = spark.read.parquet(self.dirs["out"]).select(
            "mention_id", "cluster").collect()
        got = [r.mention_id for r in out]
        self.check("every arrival mention assigned exactly once",
                   len(got) == len(want) and set(got) == want,
                   f"{len(got)} assigned, {len(want)} arrived")
        self.check("assigned mention ids are distinct",
                   len(set(got)) == len(got))
        # pairwise F1 of arrival clusters vs truth within blocks: every
        # pair of one arrival and any other mention of its block;
        # pair_f1 restricts to arrival x seeded-catalog pairs
        truth = {r.conv_id + "#assistant": (r.entity_id, r.block_key)
                 for r in self.g.collect()}
        cat = spark.read.parquet(self.dirs["catalog"]).select(
            "member_id", "cluster").collect()
        arrived = {r.mention_id: r.cluster for r in out}
        seeded = {r.member_id: r.cluster for r in cat
                  if r.member_id not in arrived}
        by_block: dict[str, list] = {}
        for m, c in list(seeded.items()) + list(arrived.items()):
            ent, blk = truth[m]
            by_block.setdefault(blk, []).append((m, c, ent, m in arrived))
        counts = {"all": [0, 0, 0], "cat": [0, 0, 0]}
        for members in by_block.values():
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    a, b = members[x], members[y]
                    if not (a[3] or b[3]):
                        continue
                    pred, lab = a[1] == b[1], a[2] == b[2]
                    kinds = ("all", "cat") if a[3] != b[3] else ("all",)
                    for k in kinds:
                        c = counts[k]
                        c[0] += pred and lab
                        c[1] += pred and not lab
                        c[2] += lab and not pred
        self.catalog_bytes = dir_bytes(self.dirs["catalog"])
        return {
            "cluster_f1": f1(*counts["all"]),
            "pair_f1": f1(*counts["cat"]),
            "assigned_rows": len(got),
            "bytes": self.catalog_bytes - self.catalog_seed_bytes
            + dir_bytes(self.dirs["out"]),
        }


WORKLOADS = {w.name: w for w in (ResolveSupervised, ResolveDenseBlocks,
                                 IngestAssign)}
