"""The four benchmark workloads, each driven through the library's
public functions.

A workload has four parts:

- ``generate(root, seed, scale)`` writes seeded inputs and truth;
- ``warm_up(spark, data, out, tr)`` is the set-up's warm-up pass (a
  ``run_pass`` on reduced inputs);
- ``run_pass(spark, data, out, tr)`` is one timed pass: every call into
  a layer sits in a tracer span, and the pass returns its latency
  samples and the operations it attempted;
- ``check(spark, data, out)`` compares the pass's outputs with the
  truth and returns one message per failed check;
- ``attribute(spark, data, out, tr)`` (traced runs only) measures lazy
  layers by prefix materialization into the ``noop`` sink and returns
  per-layer metrics.
"""

from __future__ import annotations

import csv
import json
import os
import re
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from spans import job_counters, job_ids, median


def _truth(data: str) -> dict:
    with open(os.path.join(data, "truth.json")) as fh:
        return json.load(fh)


def _read_csv_dir(path: str) -> list[dict]:
    """Rows of every part file of a Spark CSV output directory (header
    per file, Spark's default quote and escape characters)."""
    rows = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name), newline="") as fh:
                rows.extend(csv.DictReader(fh, escapechar="\\", doublequote=False))
    return rows


def _parquet(path: str):
    """A Spark parquet output directory (or file) as one Arrow table."""
    return pq.read_table(path, partitioning=None)


def _barcode(row: dict) -> str:
    """The barcode without the guard apostrophe format_stage adds."""
    return row["Barcode"].removeprefix("'")


def _noop(df) -> float:
    """Materialize ``df`` without a sink; returns seconds."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _timed_group(spark, df) -> tuple[float, dict]:
    """Noop-materialization time of ``df`` and the Spark counters of the
    jobs it started."""
    before = job_ids(spark)
    seconds = _noop(df)
    return seconds, job_counters(spark, job_ids(spark) - before)


class Part:
    def warm_up(self, spark, data: str, out: str, tr) -> None:
        """The set-up's warm-up pass, on reduced inputs."""
        self.run_pass(spark, data, out, tr)


class PassResult:
    def __init__(self):
        self.attempted = 0
        self.samples: dict[str, list[float]] = {}

    def op(self, kind: str | None = None, seconds: float | None = None) -> None:
        self.attempted += 1
        if kind is not None:
            self.samples.setdefault(kind, []).append(seconds)


# ---------------------------------------------------------------------------
# serials_etl
# ---------------------------------------------------------------------------


class SerialsEtl(Part):
    name = "serials_etl"
    sizes = {"full": {"serials": 400, "largest": 200},
             "warmup": {"serials": 12, "largest": 60}}

    def generate(self, root: str, seed: int, scale: str) -> dict:
        return gen.gen_serials(root, seed, **self.sizes[scale])

    @staticmethod
    def _xml_body():
        from journal_batch_processer_spark.sources.xml import xml_serialize

        item = F.col("item")
        coded = [item.getField(f).getField(p)
                 for f in ("physical_material_type", "policy") for p in ("code", "desc")]
        plain = [item.getField(f) for f in
                 ("enumeration_a", "enumeration_b", "chronology_i", "chronology_j")]
        return xml_serialize(F.col("update_url"), F.col("Barcode"), *coded, *plain)

    def run_pass(self, spark, data: str, out: str, tr) -> PassResult:
        from journal_batch_processer_spark.pipeline import (
            format_stage, split_stage, update_stage)
        from journal_batch_processer_spark.sinks.csv_sink import write_stage_csv
        from journal_batch_processer_spark.sources.csv_source import read_items_csv

        res = PassResult()
        raw = read_items_csv(spark, os.path.join(data, "items.csv"))
        with tr.span("pipeline.format.build"):
            fmt = format_stage(raw)
        with tr.span("pipeline.split.build"):
            split = split_stage(fmt)
        with tr.span("sinks.csv_sink.write"):
            s_path = write_stage_csv(split, out, "s_", "items.csv")
        res.op()
        items = read_items_csv(spark, s_path)
        remote = spark.read.parquet(os.path.join(data, "remote.parquet"))
        with tr.span("pipeline.update.build"):
            upd = update_stage(items, remote)
        name = os.path.basename(s_path)
        with tr.span("sinks.csv_sink.write"):
            write_stage_csv(upd.success.select(*items.columns, self._xml_body().alias("body_xml")),
                            out, "suc_", name)
        res.op()
        with tr.span("sinks.csv_sink.write"):
            write_stage_csv(upd.error.select(*items.columns), out, "err_", name)
        res.op()
        return res

    def check(self, spark, data: str, out: str) -> list[str]:
        truth = _truth(data)
        bad = []
        split, suc, err = (_read_csv_dir(os.path.join(out, f"{p}items.csv"))
                           for p in ("s_", "suc_", "err_"))
        seen = sorted(_barcode(r) for r in suc + err)
        if seen != truth["barcodes"]:
            bad.append(f"serials_etl: suc_+err_ hold {len(seen)} rows, "
                       f"input has {truth['rows']} (or barcodes differ)")
        planted = truth["planted"]
        got = {_barcode(r): [r["Enum A"], r["Chron I"]] for r in split}
        wrong = sum(got.get(b) != want for b, want in planted.items())
        if wrong:
            bad.append(f"serials_etl: {wrong} of {len(planted)} planted rows "
                       "have a wrong Enum A or Chron I")
        xml_wrong = sum(f"<chronology_i>{planted[b][1]}</chronology_i>" not in r["body_xml"]
                        for r in suc if (b := _barcode(r)) in planted)
        if xml_wrong:
            bad.append(f"serials_etl: {xml_wrong} pushed planted records lack the merged Chron I")
        return bad

    def attribute(self, spark, data: str, out: str, tr) -> dict:
        """Prefix materialization of the lazy layers inside split_stage
        and update_stage, each prefix built from the same public
        operators split_stage/update_stage compose."""
        from journal_batch_processer_spark.functions.text import month_normalize
        from journal_batch_processer_spark.operators.desc_extract import desc_extract
        from journal_batch_processer_spark.operators.flags import (
            fill_blank_defaults, flag_i_barcode, flag_missing_barcode, overwrite_constants)
        from journal_batch_processer_spark.operators.merge import field_merge
        from journal_batch_processer_spark.operators.natural_sort import (
            PRE_VOL_COL, VOL_COL, with_sort_keys)
        from journal_batch_processer_spark.operators.routing import error_route
        from journal_batch_processer_spark.operators.year_impute import year_impute_exact
        from journal_batch_processer_spark.pipeline import format_stage, split_stage
        from journal_batch_processer_spark.schema_policy import (
            DEFAULT_CONTRACT, ensure_columns, ensure_extra)
        from journal_batch_processer_spark.sinks.csv_sink import write_stage_csv
        from journal_batch_processer_spark.sources.csv_source import read_items_csv
        from journal_batch_processer_spark.sources.rest import enrich_fetch

        contract = DEFAULT_CONTRACT.expand_dependents()
        raw = read_items_csv(spark, os.path.join(data, "items.csv"))
        base = format_stage(raw)
        base = ensure_extra(ensure_columns(base, contract), "Pattern", "Notes")
        base = overwrite_constants(fill_blank_defaults(base, contract, False), contract, False)
        desc = desc_extract(base)
        imputed = year_impute_exact(flag_i_barcode(flag_missing_barcode(with_sort_keys(desc))))
        imputed = imputed.withColumn("Chron J", month_normalize(F.col("Chron J"), False))
        ordered = imputed.orderBy("MMS ID", PRE_VOL_COL, VOL_COL, "Description")
        t_base, _ = _timed_group(spark, base)
        t_desc, _ = _timed_group(spark, desc)
        t_imp, c_imp = _timed_group(spark, imputed)
        t_ord, c_ord = _timed_group(spark, ordered)
        t0 = time.perf_counter()
        write_stage_csv(split_stage(format_stage(raw)), os.path.join(out, "attr"), "s_", "items.csv")
        t_csv = time.perf_counter() - t0
        groups = raw.select("MMS ID").distinct().count()

        items = read_items_csv(spark, os.path.join(out, "s_items.csv"))
        remote = spark.read.parquet(os.path.join(data, "remote.parquet"))
        good = error_route(ensure_extra(ensure_columns(items, contract), "Notes")).good
        enriched = enrich_fetch(good, remote)
        fetched = enriched.filter(~F.col("Notes").contains("Err"))
        t_good, _ = _timed_group(spark, good)
        t_enr, _ = _timed_group(spark, enriched)
        t_fok, _ = _timed_group(spark, fetched)
        t_mrg, _ = _timed_group(spark, field_merge(fetched))
        year_s = t_imp - t_desc
        return {
            "operators.desc_extract.s": t_desc - t_base,
            "operators.year_impute.s": year_s,
            "operators.year_impute.groups": groups,
            "operators.year_impute.s_per_group": year_s / max(groups, 1),
            "operators.natural_sort.s": t_ord - t_imp,
            "operators.natural_sort.shuffle_bytes":
                c_ord["shuffle_write_bytes"] - c_imp["shuffle_write_bytes"],
            "sources.rest.enrich_fetch.s": t_enr - t_good,
            "operators.merge.field_merge.s": t_mrg - t_fok,
            "sinks.csv_sink.write_s": t_csv - t_ord,
        }


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup(Part):
    name = "corpus_dedup"
    sizes = {"full": {"docs": 1000}, "warmup": {"docs": 200}}

    def generate(self, root: str, seed: int, scale: str) -> dict:
        return gen.gen_corpus(root, seed, **self.sizes[scale])

    def run_pass(self, spark, data: str, out: str, tr) -> PassResult:
        from journal_batch_processer_spark.cache import release_all
        from journal_batch_processer_spark.corpus import write_corpus_lake
        from journal_batch_processer_spark.operators.dedup import near_dup_pairs
        from journal_batch_processer_spark.operators.graph import cluster_assignments

        res = PassResult()
        docs = spark.read.parquet(os.path.join(data, "docs.parquet"))
        with tr.span("corpus.write_corpus_lake"):
            write_corpus_lake(docs, os.path.join(out, "lake"))
        res.op()
        with tr.span("operators.dedup.near_dup_pairs.build"):
            pairs = near_dup_pairs(docs, "doc_id", "text", threshold=0.5)
        with tr.span("operators.dedup.near_dup_pairs.action"):
            pairs.write.mode("overwrite").parquet(os.path.join(out, "pairs"))
        res.op()
        pairs = spark.read.parquet(os.path.join(out, "pairs"))
        with tr.span("operators.graph.cluster_assignments.build"):
            clusters = cluster_assignments(docs, "doc_id", pairs)
        with tr.span("operators.graph.cluster_assignments.action"):
            clusters.write.mode("overwrite").parquet(os.path.join(out, "clusters"))
        res.op()
        res.samples["cache.pinned"] = [release_all()]
        return res

    def check(self, spark, data: str, out: str) -> list[str]:
        truth = _truth(data)
        bad = []
        lake = _parquet(os.path.join(out, "lake")).num_rows
        if lake != truth["lake_rows"]:
            bad.append(f"corpus_dedup: lake holds {lake} rows, expected {truth['lake_rows']} "
                       "(the documents quality_gate passes, minus exact copies)")
        pairs = _parquet(os.path.join(out, "pairs")).to_pydict()
        found = {(min(a, b), max(a, b)) for a, b in zip(pairs["doc_a"], pairs["doc_b"])}
        planted = {tuple(p) for p in truth["planted_pairs"]}
        recall = len(found & planted) / len(planted)
        if recall < 0.95:
            bad.append(f"corpus_dedup: near-dup recall {recall:.3f} on planted pairs < 0.95")
        clusters = _parquet(os.path.join(out, "clusters")).to_pydict()
        cid = dict(zip(clusters["doc_id"], clusters["cluster_id"]))
        split = sum(len({cid[d] for d in grp}) != 1 for grp in truth["clusters"])
        if split:
            bad.append(f"corpus_dedup: {split} planted clusters span several cluster ids")
        return bad

    def attribute(self, spark, data: str, out: str, tr) -> dict:
        from journal_batch_processer_spark.cache import release_all
        from journal_batch_processer_spark.corpus import corpus_pipeline
        from journal_batch_processer_spark.operators.dedup import minhash_candidates
        from journal_batch_processer_spark.operators.text_analysis import quality_gate

        docs = spark.read.parquet(os.path.join(data, "docs.parquet"))
        t0 = time.perf_counter()
        corpus = corpus_pipeline(docs)
        build = time.perf_counter() - t0
        action, _ = _timed_group(spark, corpus)
        n_docs = docs.count()
        kept = quality_gate(docs, "doc_id", "text").filter("keep").count()
        cand = minhash_candidates(docs, "doc_id", "text", 32, 16, 3).count()
        release_all()
        verified = spark.read.parquet(os.path.join(out, "pairs")).count()
        lake_s = median(tr.seconds("corpus.write_corpus_lake"))
        return {
            "corpus.corpus_pipeline.build_s": build,
            "corpus.corpus_pipeline.action_s": action,
            "operators.text_analysis.quality_gate.keep_ratio": kept / n_docs,
            "sinks.lake.write_s": lake_s - build - action,
            "operators.dedup.candidates": cand,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.verify_ratio": verified / max(cand, 1),
        }


# ---------------------------------------------------------------------------
# lake_upsert
# ---------------------------------------------------------------------------


class LakeUpsert(Part):
    name = "lake_upsert"
    # two rounds: a MOR merge, then a COW merge that first applies the
    # MOR round's delete files
    sizes = {"full": {"base_rows": 50_000, "rounds": 2, "batch_rows": 1_000},
             "warmup": {"base_rows": 2_000, "rounds": 2, "batch_rows": 100}}

    def generate(self, root: str, seed: int, scale: str) -> dict:
        return gen.gen_lake(root, seed, **self.sizes[scale])

    @staticmethod
    def _agg(df):
        k = F.col("barcode")
        return df.agg(
            F.count(F.lit(1)),
            F.sum(k),
            F.sum(k % 1009 * F.col("copies")),
            F.sum(k % 997 * (F.col("round") + 1)),
            F.sum(k % 983 * F.length("status")),
        ).collect()[0]

    def run_pass(self, spark, data: str, out: str, tr) -> PassResult:
        from journal_batch_processer_spark.operators.table_format import SnapshotTable

        truth = _truth(data)
        res = PassResult()
        root = os.path.join(out, "table")
        shutil.rmtree(root, ignore_errors=True)
        self.errors: list[str] = []
        t = SnapshotTable.create(root, gen.LAKE_SCHEMA)
        with tr.span("table_format.append"):
            t.append(spark.read.parquet(os.path.join(data, "base.parquet")))
        res.op()
        rounds = sorted(int(f[6:-8]) for f in os.listdir(data) if f.startswith("batch_"))
        expect = [truth["round_rows"][0]]
        for r in rounds:
            batch = spark.read.parquet(os.path.join(data, f"batch_{r}.parquet"))
            if r % 2 == 0:
                if t.manifest().get("delete_files"):
                    with tr.span("table_format.apply_deletes"):
                        t.apply_deletes(spark)
                    res.op()
                with tr.span("table_format.merge") as sp:
                    v = t.merge(batch, "barcode")
            else:
                with tr.span("table_format.merge_mor") as sp:
                    v = t.merge_mor(batch, "barcode")
            res.op("commit", sp["end"] - sp["start"])
            expect.append(truth["round_rows"][r])
            for label, version in (("latest", None), ("as_of", v - 1)):
                with tr.span("table_format.read") as sp:
                    with tr.span("table_format.read.build"):
                        df = t.read(spark, version=version)
                    with tr.span("table_format.read.action"):
                        n = self._agg(df)[0]
                res.op("read", sp["end"] - sp["start"])
                want = expect[-1] if version is None else expect[-2]
                if n != want:
                    self.errors.append(f"lake_upsert: {label} read of v{v} has {n} rows, expected {want}")
            with tr.span("table_format.read_changes") as sp:
                n = t.read_changes(spark, v - 1, v).count()
            res.op("read", sp["end"] - sp["start"])
            want = truth["changes_per_round"]
            if n != want:
                self.errors.append(f"lake_upsert: change feed of v{v} has {n} rows, expected {want}")
        if t.manifest().get("delete_files"):
            with tr.span("table_format.apply_deletes"):
                t.apply_deletes(spark)
            res.op()
        with tr.span("table_format.compact"):
            t.compact(spark, target_bytes=64 << 20)
        res.op()
        with tr.span("table_format.read") as sp:
            self.final = list(self._agg(t.read(spark)))
        res.op("read", sp["end"] - sp["start"])
        return res

    def check(self, spark, data: str, out: str) -> list[str]:
        truth = _truth(data)
        bad = list(self.errors)
        if self.final != truth["final"]:
            bad.append(f"lake_upsert: final snapshot checksum {self.final} != {truth['final']}")
        return bad

    def probes(self, spark, out: str) -> list[tuple[str, bool] | None]:
        """One upsert on its own small table with a batch deduplicated
        in-session, the way a user would write it. Each probe gives
        None on success, else (message, whether the result was wrong
        rather than an error raised)."""
        return [self._dedup_batch_merge_mor(spark, out)]

    def _dedup_batch_merge_mor(self, spark, out: str) -> tuple[str, bool] | None:
        from journal_batch_processer_spark.operators.table_format import SnapshotTable

        root = os.path.join(out, "probe")
        shutil.rmtree(root, ignore_errors=True)
        t = SnapshotTable.create(root, gen.LAKE_SCHEMA)
        ddl = ", ".join(f"`{n}` {ty}" for n, ty in gen.LAKE_SCHEMA)
        t.append(spark.createDataFrame([(k, 1, "in place", 1, 0) for k in range(0, 40, 2)], ddl))
        rows = [(k, 1, "on loan", 2, 1) for k in range(0, 40, 4)] * 2 + [(41, 1, "new", 1, 1)]
        batch = spark.createDataFrame(rows, ddl).dropDuplicates(["barcode"])
        try:
            t.merge_mor(batch, "barcode")
            got = self._agg(t.read(spark))[0]
        except Exception as e:  # noqa: BLE001 - the probe reports any failure
            spark_error = re.search(r"\[[A-Z_]+\][^\n]*", str(e))
            text = spark_error.group(0) if spark_error else str(e).splitlines()[0]
            return f"merge_mor of a dropDuplicates batch raised {type(e).__name__}: {text[:240]}", False
        return None if got == 21 else (f"probe table has {got} rows, expected 21", True)

    def attribute(self, spark, data: str, out: str, tr) -> dict:
        from journal_batch_processer_spark.operators.table_format import SnapshotTable

        t = SnapshotTable(os.path.join(out, "table"))
        hist = [t.manifest(v) for v in t.versions()]
        by_op: dict[str, list[dict]] = {}
        for prev, man in zip(hist, hist[1:]):
            by_op.setdefault(man["operation"], []).append((prev, man))

        def added(prev, man, key="files"):
            seen = {f["path"] for f in prev.get(key) or []}
            return [f for f in man.get(key) or [] if f["path"] not in seen]

        cow = by_op.get("merge", [])
        rewritten = [len({f["path"] for f in p["files"]} - {f["path"] for f in m["files"]})
                     for p, m in cow]
        written = [sum(f["bytes"] for f in added(p, m)) + sum(f["bytes"] for f in m.get("cdc_files") or [])
                   for p, m in cow]
        mor_dels = [len(added(p, m, "delete_files")) for p, m in by_op.get("merge_mor", [])]
        scanned = [len(m["files"]) + len(m.get("delete_files") or []) for _, m in by_op.get("merge_mor", []) + cow]
        stored = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(t.root) for f in fs)
        live = sum(f["bytes"] for f in hist[-1]["files"])
        return {
            "table_format.merge.files_rewritten": median(rewritten),
            "table_format.merge.bytes_written": median(written),
            "table_format.merge_mor.delete_files": median(mor_dels),
            "table_format.read.files_scanned": median(scanned),
            "table_format.bytes_per_user_byte": stored / live,
        }


# ---------------------------------------------------------------------------
# events_sessionize
# ---------------------------------------------------------------------------


class EventsSessionize(Part):
    name = "events_sessionize"
    # the warm-up drains one file: fewer micro-batches, same code paths
    sizes = {"full": {"users": 1_000, "events": 4_000, "files": 2},
             "warmup": {"users": 60, "events": 600, "files": 1}}

    def generate(self, root: str, seed: int, scale: str) -> dict:
        return gen.gen_events(root, seed, **self.sizes[scale])

    def run_pass(self, spark, data: str, out: str, tr) -> PassResult:
        from journal_batch_processer_spark.streaming.jobs import (
            read_events_stream, sessionize_stateful, upsert_snapshot_sink)

        res = PassResult()
        ev_dir = os.path.join(data, "events")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        self.query = f"perfbench_sessions_{os.getpid()}"
        with tr.span("streaming.read_events_stream.build"):
            events = read_events_stream(spark, ev_dir)
        with tr.span("streaming.sessionize.drain"):
            q = (sessionize_stateful(events).writeStream.format("memory")
                 .queryName(self.query).outputMode("append")
                 .option("checkpointLocation", os.path.join(out, "ck_sessions"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        res.op()
        self.progress = {"sessionize": q.recentProgress}
        with tr.span("streaming.upsert_sink.drain"):
            q2 = upsert_snapshot_sink(read_events_stream(spark, ev_dir),
                                      os.path.join(out, "snap"), os.path.join(out, "ck_snap"))
            q2.awaitTermination()
        res.op()
        self.progress["upsert_sink"] = q2.recentProgress
        for prog in self.progress.values():
            for p in prog:
                res.op("batch", p.durationMs["triggerExecution"] / 1000)
        return res

    def check(self, spark, data: str, out: str) -> list[str]:
        truth = _truth(data)
        bad = []
        n = spark.sql(f"SELECT count(*) FROM {self.query}").collect()[0][0]
        spark.catalog.dropTempView(self.query)
        if n != truth["sessions"]:
            bad.append(f"events_sessionize: {n} sessions, closed form gives {truth['sessions']}")
        snap_root = os.path.join(out, "snap")
        latest = max((d for d in os.listdir(snap_root) if d.startswith("v")),
                     key=lambda d: int(d[1:]))
        snap = _parquet(os.path.join(snap_root, latest))
        snap = (snap.num_rows, pc.sum(snap["n_events"]).as_py(),
                pc.sum(snap["last_event_id"]).as_py())
        want = (truth["users"], truth["events"], truth["last_event_id_sum"])
        if snap != want:
            bad.append(f"events_sessionize: snapshot (users, events, last ids) {tuple(snap)} != {want}")
        return bad

    def attribute(self, spark, data: str, out: str, tr) -> dict:
        ses = self.progress["sessionize"]
        add = [p.durationMs["triggerExecution"] / 1000 for p in ses if p.numInputRows > 0]
        timer = [p.durationMs["triggerExecution"] / 1000 for p in ses if p.numInputRows == 0]
        state = [p.stateOperators[0] for p in ses if p.stateOperators]
        sink = [p.durationMs["triggerExecution"] / 1000 for p in self.progress["upsert_sink"]]
        return {
            "streaming.sessionize.add_batch_s": median(add),
            "streaming.sessionize.timer_batch_s": median(timer),
            "streaming.state_rows": state[-1].numRowsTotal if state else 0,
            "streaming.state_memory_bytes": max((s.memoryUsedBytes for s in state), default=0),
            "streaming.upsert_sink.batch_s": median(sink),
        }


class Composite:
    """Several parts run back to back in one pass; each part has its
    own input and output directory, named after the part. A run times
    at least ``passes`` passes."""

    def __init__(self, name: str, *parts, passes: int = 1):
        self.name = name
        self.parts = parts
        self.passes = passes

    def generate(self, root: str, seed: int, scale: str) -> dict:
        metas = [p.generate(os.path.join(root, p.name), seed, scale) for p in self.parts]
        return {"rows": sum(m["rows"] for m in metas)}

    def run_pass(self, spark, data: str, out: str, tr) -> PassResult:
        res = PassResult()
        for p in self.parts:
            t0 = time.perf_counter()
            r = p.run_pass(spark, os.path.join(data, p.name), os.path.join(out, p.name), tr)
            print(f"# part {p.name} {time.perf_counter() - t0:.3f} s", flush=True)
            res.attempted += r.attempted
            for k, v in r.samples.items():
                res.samples.setdefault(k, []).extend(v)
        return res

    def warm_up(self, spark, data: str, out: str, tr) -> None:
        """The parts warm up side by side. A warm-up pass is mostly
        cold-start and fixed per-call latency (a 2k-row table costs
        about what a 50k-row one does), so overlapping the parts takes
        6–20 s off every run's set-up on 4 cores."""
        with ThreadPoolExecutor(len(self.parts)) as ex:
            futures = [ex.submit(p.warm_up, spark, os.path.join(data, p.name),
                                 os.path.join(out, p.name), tr) for p in self.parts]
            for f in futures:
                f.result()

    def check(self, spark, data: str, out: str) -> list[str]:
        return [msg for p in self.parts
                for msg in p.check(spark, os.path.join(data, p.name), os.path.join(out, p.name))]

    def attribute(self, spark, data: str, out: str, tr) -> dict:
        values = {}
        for p in self.parts:
            values.update(p.attribute(spark, os.path.join(data, p.name),
                                      os.path.join(out, p.name), tr))
        return values

    def probes(self, spark, out: str) -> list[tuple[str, bool] | None]:
        return [r for p in self.parts if hasattr(p, "probes")
                for r in p.probes(spark, os.path.join(out, p.name))]


PARTS = (SerialsEtl(), CorpusDedup(), LakeUpsert(), EventsSessionize())
# The benchmark's workloads pair the parts by the cost that dominates
# them; each part alone is also runnable, for profiling one layer.
# The run budget leaves room for a second timed pass on one workload:
# serials_events, whose one-pass wall spread most between runs. A
# corpus_lake pass is ~14 s of fixed per-call work (planning, job
# scheduling, commits).
WORKLOADS = {w.name: w for w in PARTS + (
    Composite("serials_events", PARTS[0], PARTS[3], passes=2),
    Composite("corpus_lake", PARTS[1], PARTS[2]),
)}
