"""The benchmark's workloads: seeded inputs, one pass, output checks, reads.

Inputs come only from ``sources.transcripts.generate_transcripts`` plus
column algebra here; the package receives the generated table. A seed
picks which window of the generator's conversations a run sees.

* ``transcripts_batch`` -- ``plans.pipeline.run`` over the default
  generator mix (30% defect rows over 16 classes, 2% duplicates, one hot
  conversation per N/8 conversations, sized so hot turns stay near 4% of
  the table as at 424k turns), all five sinks and the manifest; then
  closed-loop dashboard reads (``queries.endpoints``) over those sinks.
  The input is written as one bucket, so a pass is one resume group, not
  the 8 that an unbucketed input gets: at local[4] an 8-group pass over
  10.5k turns took 32-46 s, mostly per-group fixed work, which leaves the
  per-row layers a small share and does not fit the run budget.
* ``curation_tail`` -- Gopher -> duplicate-line removal -> SemDeDup ->
  DSIR -> UniMax -> packing over one document per conversation plus
  closed-form embeddings, composed here from the operators' public
  functions.

Every pass and every read is checked; a failed check raises
``CheckFailed`` and counts as a failed operation.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from realtime_data_quality_monitor_spark import config
from realtime_data_quality_monitor_spark.functions.scrub import scrub_text
from realtime_data_quality_monitor_spark.operators import (
    dedup,
    export,
    importance,
    quality_filters,
    similarity,
)
from realtime_data_quality_monitor_spark.plans import pipeline
from realtime_data_quality_monitor_spark.queries import endpoints
from realtime_data_quality_monitor_spark.sources.transcripts import (
    generate_transcripts,
    write_transcripts,
)


class CheckFailed(Exception):
    """An output did not match its invariant or its recorded checksum."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _conv_num(col: str = "conv_id"):
    # CONV-%08X; the bad_conv_format defect only rewrites the first letter
    return F.conv(F.substring(col, 6, 8), 16, 10).cast("long")


def seeded_transcripts(spark, n_convs: int, seed: int, hot_every: int, hot_len: int = 2000):
    """``n_convs`` consecutive conversations of the generator's table,
    starting at a seed-chosen offset within the first n/8. With
    ``hot_every = n_convs // 8`` every window holds exactly eight hot
    conversations of ``hot_len`` turns, so run cost does not depend on the
    seed. Rows whose conv_id was blanked by a defect keep 8 in 9 of their
    number by hash."""
    span = max(1, n_convs // 8)
    off = (seed * 2654435761) % span
    raw = generate_transcripts(
        spark,
        n_convs=n_convs + span,
        hot_conv_every=hot_every,
        hot_conv_len=hot_len,
        include_labels=False,
    )
    num = _conv_num()
    orphan_kept = F.pmod(F.xxhash64("turn_idx", "ts", "text", F.lit(seed)), F.lit(9)) < 8
    return raw.where(
        F.when(F.col("conv_id").isNull(), orphan_kept).otherwise(
            (num >= off) & (num < off + n_convs)
        )
    )


def rows_digest(rows) -> str:
    """Order-free digest of collected rows; floats are rounded to 6
    places so the last-bit order dependence of double sums does not
    count as a difference."""

    def norm(v):
        return round(v, 6) if isinstance(v, float) else v

    lines = sorted(repr(tuple(norm(v) for v in r)) for r in rows)
    return hashlib.sha1("\n".join(lines).encode()).hexdigest()[:16]


def _hash_sum(*cols):
    # decimal sum of row hashes: order-free and overflow-free under ANSI
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def _docs_and_lines(docs) -> tuple:
    r = docs.agg(
        F.count(F.lit(1)), F.sum(F.size(F.split("text", "\n"))).cast("long")
    ).first()
    return r[0], r[1]


class TranscriptsBatch:
    name = "transcripts_batch"
    n_convs = 2400  # a multiple of 8: every window holds exactly 8 hot conversations
    # eight 2000-turn hot conversations in ~41k (424k turns) are ~4% of the
    # turns; hot conversations scale with the input to keep that share
    hot_len = n_convs // 20
    # one bucket(conv_id) partition -> one resume group per pass
    buckets = 1

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.input_path = os.path.join(work, "input")
        self.rows = 0

    def _sampled(self, df):
        # about 1 turn in 64 by (conv_id, turn_idx, ts) hash
        return df.where(
            F.col("conv_id").isNotNull()
            & (F.pmod(F.xxhash64("conv_id", "turn_idx", "ts"), F.lit(64)) == 0)
        )

    def prepare(self) -> None:
        df = seeded_transcripts(
            self.spark, self.n_convs, self.seed, self.n_convs // 8, self.hot_len
        )
        write_transcripts(df, self.input_path, buckets=self.buckets)
        inp = self.spark.read.parquet(self.input_path)
        r = inp.agg(F.count(F.lit(1)), F.count("ts")).first()
        self.rows, self.ts_rows = r[0], r[1]
        sample: dict = {}
        for row in self._sampled(inp).select("conv_id", "turn_idx", "ts", "text").collect():
            key = (row.conv_id, row.turn_idx, row.ts)
            sample[key] = None if key in sample else row.text  # None: ambiguous key
        self.scrub_sample = {k: v for k, v in sample.items() if v is not None}

    def run_pass(self, out_dir: str, spans) -> dict:
        with spans.span("plans.pipeline.run"):
            return pipeline.run(self.spark, self.input_path, out_dir)

    def check_pass(self, out_dir: str, summary: dict) -> dict:
        spark = self.spark
        manifest = pipeline.read_manifest(out_dir)
        total = sum(r["total"] for r in manifest.values())
        kept = sum(r["kept"] for r in manifest.values())
        require(summary["finished"], "pipeline did not finish every group")
        require(total == self.rows, f"manifest total {total} != input rows {self.rows}")
        clean = pipeline.read_output(spark, out_dir, "clean")
        n_clean, clean_hash = clean.agg(
            F.count(F.lit(1)), _hash_sum("conv_id", "turn_idx", "ts", "scrubbed_text")
        ).first()
        n_lineage = pipeline.read_output(spark, out_dir, "lineage").count()
        metric_total = (
            pipeline.read_output(spark, out_dir, "metrics")
            .agg(F.sum("total_records"))
            .first()[0]
        )
        require(n_clean == kept, f"clean rows {n_clean} != kept {kept}")
        require(n_clean + n_lineage == total, "kept + dropped != total")
        require(metric_total == total, f"metrics total_records {metric_total} != {total}")
        compared = 0
        for row in self._sampled(clean).select(
            "conv_id", "turn_idx", "ts", "scrubbed_text"
        ).collect():
            text = self.scrub_sample.get((row.conv_id, row.turn_idx, row.ts))
            if text is not None:
                require(
                    scrub_text(text) == row.scrubbed_text,
                    f"scrubbed_text differs from scrub_text at {row.conv_id}/{row.turn_idx}",
                )
                compared += 1
        require(compared > 0, "scrub sample matched no clean row")
        return {
            "total": total,
            "kept": kept,
            "manifest_checksum": str(sum(int(r["checksum"]) for r in manifest.values())),
            "clean_hash": str(clean_hash),
        }

    def read_ops(self, out_dir: str) -> list:
        s, now = self.spark, config.NOW_UTC
        calls = [
            ("health", lambda: endpoints.health(s, out_dir)),
            ("metrics_latest", lambda: endpoints.metrics_latest(s, out_dir, now=now)),
            ("metrics_history", lambda: endpoints.metrics_history(s, out_dir, now=now)),
            ("metrics_dimensions", lambda: endpoints.metrics_dimensions(s, out_dir)),
            ("issues_recent", lambda: endpoints.issues_recent(s, out_dir)),
            ("issue_summary", lambda: endpoints.issue_summary(s, out_dir)),
            ("stats_window", lambda: endpoints.stats_window(s, out_dir)),
            ("lifetime_overview", lambda: endpoints.lifetime_overview(s, out_dir)),
        ]
        return [(name, lambda fn=fn: fn().collect()) for name, fn in calls]

    def check_first_reads(self, first: dict) -> None:
        """Invariants of the first response of each endpoint."""
        require(first["health"][0]["completed_groups"] == self.buckets, "health groups")
        life = first["lifetime_overview"][0]
        require(
            life["total_records"] == self.ts_rows,
            f"lifetime total_records {life['total_records']} != {self.ts_rows}",
        )
        require(len(first["issues_recent"]) == 100, "issues_recent size")
        require(first["stats_window"][0]["n_windows"] <= 10, "stats_window size")

    def changed_ratio(self, out_dir: str) -> float:
        """Kept turns whose scrubbed text differs from their input text,
        over all kept turns."""
        clean = pipeline.read_output(self.spark, out_dir, "clean")
        inp = self.spark.read.parquet(self.input_path).dropDuplicates(
            ["conv_id", "turn_idx", "ts"]
        )
        r = (
            clean.join(inp, ["conv_id", "turn_idx", "ts"])
            .agg(
                F.count(F.lit(1)),
                F.sum((F.col("scrubbed_text") != F.col("text")).cast("int")),
            )
            .first()
        )
        return (r[1] or 0) / r[0] if r[0] else 0.0


class CurationTail:
    name = "curation_tail"
    n_docs = 2000
    emb_dim = 64
    n_shards = 16
    STAGES = ("gopher", "dup_lines", "semdedup", "dsir", "unimax", "pack")
    SPAN_NAMES = {
        "gopher": "quality_filters.gopher",
        "dup_lines": "dedup.dup_lines",
        "semdedup": "similarity.semdedup",
        "dsir": "importance.dsir",
        "unimax": "export.unimax",
        "pack": "export.pack",
    }

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.docs_path = os.path.join(work, "docs")
        self.emb_path = os.path.join(work, "emb")
        self.rows = 0

    def _draw(self, salt: str):
        return F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.lit(f"{salt}{self.seed}"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    def prepare(self) -> None:
        """One document per conversation (turn texts joined with newlines
        in turn order), closed-form lang/source, closed-form embeddings."""
        spark = self.spark
        t = seeded_transcripts(spark, self.n_docs, self.seed, hot_every=0)
        langs = F.array(*[F.lit(x) for x in ("en", "de", "fr", "zh", "es")])
        docs = (
            t.where(F.col("conv_id").isNotNull())
            .groupBy(_conv_num().alias("doc_id"))
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("turn_idx", "ts", "text"))),
                        lambda s: F.coalesce(s["text"], F.lit("")),
                    ),
                    "\n",
                ).alias("text")
            )
            .select(
                "doc_id",
                "text",
                F.element_at(langs, (self._draw("lang") % 5 + 1).cast("int")).alias("lang"),
                F.concat(F.lit("src"), self._draw("src") % 20).alias("source"),
            )
        )
        n_part = 2 * spark.sparkContext.defaultParallelism
        docs.repartition(n_part, "doc_id").write.parquet(self.docs_path)
        docs = spark.read.parquet(self.docs_path)
        seed = self.seed
        comp = F.transform(
            F.sequence(F.lit(0), F.lit(self.emb_dim - 1)),
            lambda j: (
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    "|",
                                    F.col("doc_id").cast("string"),
                                    j.cast("string"),
                                    F.lit(f"emb{seed}"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 2001
                    - 1000
                ).cast("double")
                / 1000.0
            ).cast("float"),
        )
        docs.select(F.col("doc_id").alias("vec_id"), comp.alias("embedding")).write.parquet(
            self.emb_path
        )
        self.rows = docs.count()

    def run_pass(self, out_dir: str, spans) -> dict:
        """One full chain; every stage boundary is materialized so each
        span holds that stage's work. Returns the row funnel."""
        spark = self.spark
        docs = spark.read.parquet(self.docs_path)
        emb = spark.read.parquet(self.emb_path)
        n = {}
        with spans.span(self.SPAN_NAMES["gopher"]):
            a = (
                quality_filters.gopher_keep_flag(docs)
                .where(F.col("keep") == 1)
                .select("doc_id", "text", "lang", "source")
                .localCheckpoint(eager=True)
            )
            n["gopher"], n["gopher_lines"] = _docs_and_lines(a)
        with spans.span(self.SPAN_NAMES["dup_lines"]):
            b = (
                dedup.drop_duplicate_lines(a, "doc_id", "text")
                .where(F.col("clean_text") != "")
                .select("doc_id", F.col("clean_text").alias("text"))
            )
            bmeta = (
                a.select("doc_id", "lang", "source").join(b, "doc_id").localCheckpoint(eager=True)
            )
            n["dup_lines"], n["dup_lines_lines"] = _docs_and_lines(bmeta)
        with spans.span(self.SPAN_NAMES["semdedup"]):
            emb_b = emb.join(bmeta.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi")
            sd = similarity.semantic_dedup(emb_b, k=16, iters=2, threshold=0.4)
            kept = sd.where(F.col("is_kept") == 1).select(F.col("vec_id").alias("doc_id"))
            c = bmeta.join(kept, "doc_id").localCheckpoint(eager=True)
            n["semdedup"] = c.count()
        with spans.span(self.SPAN_NAMES["dsir"]):
            # budgets scale with the stage input so every stage drops rows
            target = c.where((F.col("source") == "src0") & (F.col("lang") == "en"))
            d = importance.dsir_topk(c, target, k=n["semdedup"] * 3 // 4)
            dsel = c.join(d.select("doc_id"), "doc_id").localCheckpoint(eager=True)
            n["dsir"] = dsel.count()
        with spans.span(self.SPAN_NAMES["unimax"]):
            e = export.unimax_sample(
                dsel, "lang", budget=n["dsir"] * 2 // 3, id_col="doc_id", seed="c1mix"
            ).localCheckpoint(eager=True)
            n["unimax"] = e.count()
        with spans.span(self.SPAN_NAMES["pack"]):
            packed = export.pack_sequences(
                e.select("doc_id").join(dsel.select("doc_id", "text"), "doc_id"),
                seed="c1pack",
                budget_tokens=2048,
                n_shards=self.n_shards,
                shuffle=False,
            )
            e.select("doc_id", "lang", "grp_rank", "quota").join(
                packed.select("doc_id", "shard", "n_tokens", "tok_start", "seq_id", "tok_offset"),
                "doc_id",
            ).write.parquet(self._packed(out_dir))
        # release this pass's checkpoints before the next one
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        return n

    @staticmethod
    def _packed(out_dir: str) -> str:
        return os.path.join(out_dir, "packed")

    def check_pass(self, out_dir: str, funnel: dict) -> dict:
        counts = [self.rows] + [funnel[s] for s in self.STAGES[:-1]]
        require(
            all(b <= a for a, b in zip(counts, counts[1:])),
            f"document funnel is not monotone: {counts}",
        )
        # every stage drops rows: documents, or lines for duplicate-line removal
        dropped = [b < a for a, b in zip(counts, counts[1:])]
        dropped[1] = funnel["dup_lines_lines"] < funnel["gopher_lines"]
        require(all(dropped), f"a stage dropped nothing: {funnel}")
        n_packed, h = (
            self.spark.read.parquet(self._packed(out_dir))
            .agg(
                F.count(F.lit(1)),
                _hash_sum("doc_id", "shard", "seq_id", "tok_offset", "n_tokens", "tok_start"),
            )
            .first()
        )
        require(n_packed == funnel["unimax"], "packed rows != UniMax rows")
        return {
            "funnel": [self.rows] + [funnel[s] for s in self.STAGES[:-1]] + [n_packed],
            "lines": [funnel["gopher_lines"], funnel["dup_lines_lines"]],
            "packed_hash": str(h),
        }


WORKLOADS = {w.name: w for w in (TranscriptsBatch, CurationTail)}
