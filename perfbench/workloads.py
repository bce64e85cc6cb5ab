"""The workloads: seeded inputs, one pass from parquet in to parquet
out through the engine's public functions, and the output checks.

A pass calls the engine the way the CLI stages do: each stage reads
parquet, calls the public function and writes parquet, and the next
stage reads that parquet back. Spans name the layer call they wrap,
``<module>.<function>``. A stage that chains several layer calls before
one write hands the chain to ``Tracer.chain``: untraced, only the final
write runs; traced, each prefix is forced once through a noop sink so
each call gets its own self time.
"""
from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from apollon_spark import tokenize
from apollon_spark.functions import kernels
from apollon_spark.hmm import fit_hmm_docs
from apollon_spark.ml import curation, dedup
from apollon_spark.operators import asof, backfill, framing, packing, \
    sessionize
from apollon_spark.pipeline import read_lineage, run_feature_job
from apollon_spark.som import SomParams, assign_bmu, fit_batch_som
from apollon_spark.spectral import FeatureConfig, extract_features

from . import checks
from . import inputs as I
from .trace import Tracer


@dataclass
class IO:
    """Input and output directories of one pass."""
    inp: str
    out: str

    def i(self, name: str) -> str:
        return os.path.join(self.inp, name)

    def o(self, name: str) -> str:
        return os.path.join(self.out, name)


@dataclass
class Sizes:
    docs: int
    tokens: int
    bytes: int


@dataclass
class Workload:
    name: str
    why: str
    # (seed, full dir, quarter dir) -> sizes of the full input
    make_inputs: Callable[[int, str, str], Sizes]
    run_pass: Callable[[SparkSession, IO, Tracer], None]
    # (full IO) -> (checks, facts that must repeat from pass to pass)
    check: Callable[[IO], tuple[list[checks.Check], dict]]
    # layer calls made by one pass, counted into ``attempted``
    spans: list[str]
    # one warm pass at this commit on 4 cores, about; it turns --seconds
    # into a number of timed passes that does not depend on their speed
    nominal_pass_s: float
    # the stage whose weak scaling the traced run measures
    scaling: Callable[[SparkSession, IO, Tracer], None] | None = None


def _write_all(tables: dict[str, "I.pa.Table"], root: str) -> int:
    return sum(I.write(t, os.path.join(root, n)) for n, t in tables.items())


# ---------------------------------------------------------------------
# docs: feature job, point-in-time operators, HMM/SOM descriptors
# ---------------------------------------------------------------------

# F1 length classes with four whales, one per crc32 quarter-shard, so
# the weak-scaling quarter holds a quarter of the work. Whales are ~34k
# tokens, 7x a short doc (F1's own whale floor is 256k), to fit the
# time budget.
DOCS_MIX = I.DocMix(n_short=12, n_medium=4, n_whale=4,
                    medium=(8_192, 24_576), whale=(32_768, 35_000))
# Short docs for the HMM fits: F1's regime process, no whales.
SHORT_MIX = I.DocMix(n_short=8, short=(2_048, 3_072))


def docs_inputs(seed: int, full: str, quarter: str) -> Sizes:
    docs = I.docs_table(seed, DOCS_MIX)
    tables = {"docs": docs,
              "short": I.docs_table(seed, SHORT_MIX, prefix="short"),
              "annotations": I.annotations_table(seed, docs)}
    _write_all({n: I.quarter(t) for n, t in tables.items()}, quarter)
    n_bytes = _write_all(tables, full)
    short = tables["short"]
    return Sizes(docs.num_rows + short.num_rows,
                 sum(docs["n_tok"].to_pylist())
                 + sum(short["n_tok"].to_pylist()), n_bytes)


FEATURE_CFG = FeatureConfig()          # 512/256 framing, full battery
FEATURE_BUCKETS = 2


def features_pass(spark: SparkSession, io: IO, tr: Tracer) -> None:
    docs = spark.read.parquet(io.i("docs"))
    if tr.plans is not None:     # the per-bucket transform's plan
        tr.plans["features"] = extract_features(docs, FEATURE_CFG)
    with tr.span("pipeline.run_feature_job"):
        run_feature_job(spark, docs, io.o("features"), FEATURE_CFG,
                        n_buckets=FEATURE_BUCKETS)


LOUD = 100            # token threshold for the sessionize groups
SESSION_GAP = 64      # positions between loud runs that split a session


def pit_pass(spark: SparkSession, io: IO, tr: Tracer) -> None:
    docs = spark.read.parquet(io.i("docs"))
    ann = spark.read.parquet(io.i("annotations"))
    frames = framing.explode_frames(docs)
    joined = asof.asof_join(frames, ann, on="position", by="doc_id")
    win = backfill.rolling_stats(
        backfill.lag_lead_delta(joined, "token", "position", by="doc_id"),
        "token", "position", 8, 8, by="doc_id")
    out = sessionize.sessionize(
        win.withColumn("loud", F.col("token") > LOUD), on="position",
        gap=SESSION_GAP, by=["doc_id", "loud"])
    tr.chain([("framing.explode_frames", frames),
              ("asof.asof_join", joined),
              ("backfill.windows", win),
              ("sessionize.sessionize", out)], io.o("pit"))


EM_MAX_ITER = 5       # fixed EM work per doc; see README
SOM = SomParams(10, 10, n_iter=2)


def descriptors_pass(spark: SparkSession, io: IO, tr: Tracer) -> None:
    docs = spark.read.parquet(io.i("short"))
    with tr.span("hmm.fit_hmm_docs"):
        tr.write(fit_hmm_docs(docs, 3, max_iter=EM_MAX_ITER), io.o("hmm"))
    vecs = spark.read.parquet(io.o("hmm"))
    with tr.span("som.fit_batch_som"):
        weights, _ = fit_batch_som(vecs, "lambda", SOM)
    with tr.span("som.assign_bmu"):
        tr.write(assign_bmu(vecs, "lambda", weights).drop("lambda"),
                 io.o("bmu"))


def docs_pass(spark: SparkSession, io: IO, tr: Tracer) -> None:
    features_pass(spark, io, tr)
    pit_pass(spark, io, tr)
    descriptors_pass(spark, io, tr)


def docs_check(io: IO):
    p = FEATURE_CFG.framing
    n_tok = checks.column(io.i("docs"), "n_tok")
    want = sum(kernels.n_segments(int(n), p.n_perseg, p.n_overlap,
                                  p.extend, p.pad) for n in n_tok)
    segs = checks.rows(os.path.join(io.o("features"), "features"))
    lineage = read_lineage(io.o("features"))
    frames = checks.rows(io.o("pit"))
    early = checks.labels_before_first_annotation(io.o("pit"),
                                                  io.i("annotations"))
    short_ids = checks.column(io.i("short"), "doc_id")
    hmm_ids = checks.column(io.o("hmm"), "doc_id")
    bmu_ids = checks.column(io.o("bmu"), "doc_id")
    return ([
        checks.Check("features.segments", segs == want,
                     f"{segs} segments, n_segments formula gives {want}"),
        checks.Check("features.buckets", len(lineage) == FEATURE_BUCKETS,
                     f"{len(lineage)} lineage records"),
        checks.Check("pit.rows", frames == sum(n_tok),
                     f"{frames} rows for {sum(n_tok)} frames"),
        checks.Check("pit.no_early_labels", early == 0,
                     f"{early} labelled frames before the doc's first "
                     f"annotation"),
        checks.Check("descriptors.hmm_rows",
                     sorted(hmm_ids) == sorted(short_ids),
                     f"{len(hmm_ids)} fits for {len(short_ids)} docs"),
        checks.Check("descriptors.bmu_rows",
                     sorted(bmu_ids) == sorted(short_ids),
                     f"{len(bmu_ids)} BMUs for {len(short_ids)} docs"),
    ], {"segments": segs,
        "lineage_checksum": sum(r["checksum"] for r in lineage),
        "frames": frames,
        "pit_checksum": checks.checksum(
            io.o("pit"), ["doc_id", "position", "label", "session_id"]),
        "em_iters": sum(checks.column(io.o("hmm"), "n_iter")),
        "hmm_checksum": checks.checksum(io.o("hmm"), ["doc_id", "n_iter"])})


# ---------------------------------------------------------------------
# curate: the README training-data recipe
# ---------------------------------------------------------------------

CTX_LEN = 2048
MIX_RATIOS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
N_BASE_DOCS = 1_000
# Token budget, a constant as the CLI's --budget-tokens is: about half
# the tokens the filters keep (that supply is fixed by the input shape
# to within ~2% across seeds), so every source is subsampled.
MIX_BUDGET_TOKENS = 17_500


def curate_inputs(seed: int, full: str, quarter: str) -> Sizes:
    docs = I.documents_table(seed, N_BASE_DOCS)
    I.write(I.quarter(docs), os.path.join(quarter, "documents.parquet"))
    n_bytes = I.write(docs, os.path.join(full, "documents.parquet"))
    n_tok = sum(len(t.split(" ")) for t in docs["text"].to_pylist())
    return Sizes(docs.num_rows, n_tok, n_bytes)


def curate_pass(spark: SparkSession, io: IO, tr: Tracer) -> None:
    read = spark.read.parquet
    raw = read(io.i("documents.parquet"))
    with tr.span("tokenize.docs_from_documents"):
        tr.write(tokenize.docs_from_documents(spark, io.inp), io.o("docs"))
    docs = read(io.o("docs"))
    with tr.span("curation.quality_filter"):
        tr.write(curation.quality_filter(raw), io.o("verdicts"))
    with tr.span("dedup.exact_dedup"):
        tr.write(dedup.exact_dedup(raw, "text", "doc_id"), io.o("exact"))
    with tr.span("dedup.excise_passages"):
        spans = dedup.passage_removal_spans(docs, k=16)
        tr.write(dedup.excise_passages(docs, spans), io.o("cut"))
    cut = read(io.o("cut"))
    with tr.span("curation.mixture_sample"):
        sid = F.col("doc_id").cast("string").alias("doc_id")
        keep = (read(io.o("verdicts")).where("keep = 1").select(sid)
                .join(read(io.o("exact")).select(sid), "doc_id"))
        kept = cut.drop("n_removed").join(keep, "doc_id", "left_semi")
        weights = curation.budget_mixture_weights(kept, MIX_RATIOS,
                                                  MIX_BUDGET_TOKENS)
        copies = curation.mixture_sample(kept, weights)
        # unique doc_id#copy ids, as the CLI sample stage writes them
        tr.write(copies.join(kept.drop("source"), "doc_id")
                 .withColumn("orig_doc_id", F.col("doc_id"))
                 .withColumn("doc_id", F.concat_ws("#", "doc_id", "copy")),
                 io.o("mixed"))
    with tr.span("packing.pack_sequences"):
        mixed = read(io.o("mixed")).withColumn(
            "doc_id", F.concat(curation.shuffle_key("run1"), F.lit(":"),
                               F.col("doc_id")))
        tr.write(packing.pack_sequences(mixed, CTX_LEN), io.o("seqs"))


def curate_check(io: IO):
    n_raw = checks.rows(io.i("documents.parquet"))
    n_docs = checks.rows(io.o("docs"))
    mixed_ids = checks.column(io.o("mixed"), "doc_id")
    mixed_tok = sum(checks.column(io.o("mixed"), "n_tok"))
    seq_tok = sum(checks.column(io.o("seqs"), "n_tok"))
    n_seqs = checks.rows(io.o("seqs"))
    n_verdicts = checks.rows(io.o("verdicts"))
    cs = checks.checksum(io.o("seqs"), ["seq_id", "n_tok", "first_doc"])
    return ([
        checks.Check("curate.docs", n_docs == n_raw,
                     f"{n_docs} tokenized of {n_raw}"),
        checks.Check("curate.unique_ids",
                     len(set(mixed_ids)) == len(mixed_ids) > 0,
                     f"{len(mixed_ids)} mixed rows, "
                     f"{len(set(mixed_ids))} distinct ids"),
        checks.Check("curate.token_conservation", seq_tok == mixed_tok,
                     f"packed {seq_tok} vs mixed {mixed_tok}"),
        checks.Check("curate.seq_count",
                     n_seqs == math.ceil(mixed_tok / CTX_LEN),
                     f"{n_seqs} sequences for {mixed_tok} tokens"),
        checks.Check("curate.verdicts", n_verdicts == n_raw,
                     f"{n_verdicts} quality verdicts for {n_raw} docs"),
    ], {"mixed_docs": len(mixed_ids), "mixed_tokens": mixed_tok,
        "sequences": n_seqs, "seqs_checksum": cs})


WORKLOADS = {w.name: w for w in [
    Workload(
        "docs",
        "Python kernels, the bucket loop, window operators and the "
        "HMM/SOM loops over token docs; whale docs are hot keys",
        docs_inputs, docs_pass, docs_check,
        spans=["pipeline.run_feature_job", "framing.explode_frames",
               "asof.asof_join",
               "backfill.windows", "sessionize.sessionize",
               "hmm.fit_hmm_docs", "som.fit_batch_som", "som.assign_bmu"],
        nominal_pass_s=7.0, scaling=features_pass),
    Workload(
        "curate",
        "the README curation recipe: JVM shuffles, joins and aggregates "
        "with a parquet write and re-read per stage",
        curate_inputs, curate_pass, curate_check,
        spans=["tokenize.docs_from_documents", "curation.quality_filter",
               "dedup.exact_dedup", "dedup.excise_passages",
               "curation.mixture_sample", "packing.pack_sequences"],
        nominal_pass_s=9.5),
]}
