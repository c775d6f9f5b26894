"""The benchmark's three workloads.

Each workload has four parts:

- ``prepare``: make its inputs from the seed (untimed, reported apart);
- ``setup``: the warm-up pass on the small fixture and the empty-table
  creation (timed, part of ``setup_s``);
- ``ops``: the operations of one pass, in a seed-permuted order, each a
  ``(name, kind, fn)`` with kind ``read`` or ``write``;
- ``check``: output checks against a reference, once per run (untimed).

Reads are catalog queries built and materialized, or lake snapshot,
time-travel, change-feed and history reads. Writes are the ETL serving
tables, the curated corpus and index writes, and the lakehouse DML and
micro-batches.
"""

from __future__ import annotations

import hashlib
import shutil
import sys
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

import inputs

# One query per operator family (join, reshape, window, as-of, aggregate,
# multi-way join); a run must fit the time budget, so each pass is small.
ETL_SERVING = (
    "j1_denormalize_star", "r1_unpivot_melt", "w1_topk_per_group", "j6_asof_join",
)
ETL_ADHOC = (
    "tpch_q1_pricing_summary", "tpch_q5_local_supplier_volume",
    "tpch_q9_product_profit", "tpch_q18_large_volume_customer",
)
CURATION_WRITES = ("curation_pipeline",)
CURATION_READS = ("dedup_minhash_lsh_pairs", "multimodal_phash_near_dups")

# Scale of the measured fixture: a seeded base at BASE_SF replicated
# SCALE_FACTOR times by tools/make_scaled_fixture.py. The warm-up pass
# runs the same operations on the same fixture: a warm-up on a smaller
# one leaves the first measured pass still warming the JIT, which was
# the largest source of run-to-run spread.
BASE_SF = 0.005
SCALE_FACTOR = 4

ANN_QUERIES = 16
ANN_K = 10
ANN_PROBES = 4
RECALL_FLOOR = 0.5
# Outputs of the first measured pass are the ones checked.
CHECKED_PASS = "p0"


class Catalog:
    """Shared machinery of the two catalog workloads."""

    writes: tuple[str, ...] = ()
    reads: tuple[str, ...] = ()
    # seconds one warm pass takes on the reference host (4 vCPU,
    # local[2]); run.py sizes a run's pass count from it
    pass_s: float

    def __init__(self, ctx):
        self.ctx = ctx
        from data_pipeline_with_spark_spark.plans import all_queries

        self.specs = all_queries()

    def prepare(self) -> None:
        ctx = self.ctx
        inputs.write_tables(inputs.base_tables(ctx.seed, BASE_SF), ctx.work / "base")
        inputs.scaled_fixture(ctx.repo, ctx.work / "base", ctx.work / "fixture", SCALE_FACTOR)
        ctx.hashes["fixture"] = inputs.file_hashes(ctx.work / "fixture")
        self.fixture = str(ctx.work / "fixture")

    def setup(self) -> None:
        for name, _kind, fn in self._ops(self.fixture, "warmup"):
            self.ctx.timed_warmup(name, fn)

    def ops(self, pass_no: int, rng: np.random.Generator):
        ops = list(self._ops(self.fixture, f"p{pass_no}"))
        return [ops[i] for i in rng.permutation(len(ops))]

    def _materialize(self, name: str, sf: str, out: Path | None):
        from data_pipeline_with_spark_spark.sources.writers import write_files, write_noop

        ctx = self.ctx
        with ctx.tracer.span("build", "plans"):
            df = self.specs[name].build(ctx.spark, sf)
        ctx.tracer.record_phases(df)
        with ctx.tracer.span("action", "sources"):
            if out is None:
                write_noop(df)
            else:
                write_files(df, str(out))

    def _ops(self, sf: str, tag: str):
        serving = self.ctx.work / "serving" / tag
        for name in self.writes:
            yield name, "write", lambda n=name: self._materialize(n, sf, serving / n)
        for name in self.reads:
            yield name, "read", lambda n=name: self._materialize(n, sf, None)

    def check(self) -> list[tuple[str, bool, str]]:
        """Every query against its DuckDB oracle; written outputs are
        checked as written, read back from their files."""
        sys.path.insert(0, str(self.ctx.repo / "tools"))
        from check_oracle import check_one

        from data_pipeline_with_spark_spark.plans.registry import QuerySpec

        con = _duckdb_views(self.fixture)
        out = []
        for name in self.writes + self.reads:
            spec = self.specs[name]
            if name in self.writes:
                path = str(self.ctx.work / "serving" / CHECKED_PASS / name)
                spec = QuerySpec(name=name, oracle=spec.oracle,
                                 build=lambda spark, sf, p=path: spark.read.parquet(p))
            ok, msg = check_one(self.ctx.spark, con.cursor(), name, spec, self.fixture)
            out.append((name, ok, msg))
        return out

    def layer_metrics(self) -> dict:
        return {}


class Etl(Catalog):
    """Batch ETL: the reference's serving-layer queries (written to
    parquet through ``sources.writers``) and TPC-H-shaped ad-hoc queries
    (materialized through ``write_noop``)."""

    writes = ETL_SERVING
    reads = ETL_ADHOC
    pass_s = 3.5


class Curation(Catalog):
    """LLM-data curation plus one ANN pass (IVF-PQ build and probe
    top-k) over seed-chosen query vectors; the exact top-k is the
    check's recall reference."""

    writes = CURATION_WRITES
    reads = CURATION_READS
    pass_s = 5.5

    def prepare(self) -> None:
        super().prepare()
        rng = np.random.default_rng(self.ctx.seed + 104729)
        emb = pq.read_table(Path(self.fixture) / "embeddings.parquet")
        n = emb.num_rows
        picks = rng.choice(n, ANN_QUERIES, replace=False)
        vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)[picks])
        noisy = vecs + rng.normal(0, 0.05, vecs.shape)
        noisy /= np.linalg.norm(noisy, axis=1, keepdims=True)
        self.ann_queries = [(10_000_000 + i, [float(x) for x in v]) for i, v in enumerate(noisy)]
        self.topk: dict[str, list] = {}
        self.ctx.hashes["ann_queries"] = hashlib.sha256(
            np.asarray(noisy, np.float64).tobytes()).hexdigest()

    def _ann_frames(self, sf: str):
        from data_pipeline_with_spark_spark.sources.readers import read_testdata

        spark = self.ctx.spark
        corpus = read_testdata(spark, sf, "embeddings").select("vec_id", "embedding")
        queries = spark.createDataFrame(
            self.ann_queries, "vec_id BIGINT, embedding ARRAY<FLOAT>")
        return corpus, queries

    def _ann_build(self, sf: str, idx: Path):
        from data_pipeline_with_spark_spark.llm import similarity

        corpus, _ = self._ann_frames(sf)
        if idx.exists():
            shutil.rmtree(idx)
        with self.ctx.tracer.span("ivfpq_build_index", "llm"):
            similarity.ivfpq_build_index(corpus, str(idx), n_cells=16, m=8,
                                         k_codes=16, pq_iters=1)

    def _ann_probe(self, sf: str, idx: Path, tag: str):
        """Top-k rows for the query vectors, returned to the caller."""
        from data_pipeline_with_spark_spark.llm import similarity

        _, queries = self._ann_frames(sf)
        with self.ctx.tracer.span("ann_topk", "llm"):
            df = similarity.ann_topk(self.ctx.spark, str(idx), queries, k=ANN_K,
                                     n_probe=ANN_PROBES, mode="probe")
        self.topk[tag] = df.collect()

    def _exact(self, sf: str) -> list:
        """Exact top-k rows for the query vectors: the recall reference."""
        from data_pipeline_with_spark_spark.llm import similarity

        corpus, queries = self._ann_frames(sf)
        return similarity.brute_force_topk(corpus, queries, k=ANN_K).collect()

    def _ops(self, sf: str, tag: str):
        yield from super()._ops(sf, tag)
        idx = self.ctx.work / "index" / tag
        yield "ann_build", "write", lambda: self._ann_build(sf, idx)
        yield "ann_topk", "read", lambda: self._ann_probe(sf, idx, tag)

    def ops(self, pass_no: int, rng: np.random.Generator):
        ops = super().ops(pass_no, rng)
        # the probe reads the index this pass builds
        names = [o[0] for o in ops]
        build = ops.pop(names.index("ann_build"))
        ops.insert(min(names.index("ann_build"), names.index("ann_topk")), build)
        return ops

    def recall(self) -> float:
        """Recall@k of the checked pass's probe against the exact top-k."""
        truth: dict[int, set] = {}
        for r in self._exact(self.fixture):
            truth.setdefault(r["q_id"], set()).add(r["neighbor_id"])
        ann = self.topk[CHECKED_PASS]
        hits = sum(1 for r in ann if r["neighbor_id"] in truth.get(r["q_id"], ()))
        return hits / (ANN_K * len(self.ann_queries))

    def check(self) -> list[tuple[str, bool, str]]:
        out = super().check()
        self.recall_at_10 = self.recall()
        out.append(("ann_recall", self.recall_at_10 >= RECALL_FLOOR,
                    f"recall@{ANN_K} {self.recall_at_10:.3f} (floor {RECALL_FLOOR})"))
        return out

    def layer_metrics(self) -> dict:
        """LSH candidates and their precision against exact shingle
        Jaccard, on the measured fixture."""
        from data_pipeline_with_spark_spark.sources.readers import read_testdata

        pairs = self.specs["dedup_minhash_lsh_pairs"].build(self.ctx.spark, self.fixture).collect()
        docs = {r["doc_id"]: r["text"] for r in
                read_testdata(self.ctx.spark, self.fixture, "documents").collect()}
        sh = {}

        def shingles(i):
            if i not in sh:
                w = (docs[i] or "").split()
                sh[i] = {tuple(w[j:j + 3]) for j in range(max(1, len(w) - 2))}
            return sh[i]

        verified = sum(
            1 for r in pairs
            if len(shingles(r["id_a"]) & shingles(r["id_b"]))
            >= 0.5 * len(shingles(r["id_a"]) | shingles(r["id_b"]))
        )
        return {
            "llm.recall_at_10": self.recall_at_10,
            "llm.lsh_candidates": len(pairs),
            "llm.lsh_precision": verified / len(pairs) if pairs else 1.0,
        }


def _duckdb_views(fixture: str):
    from data_pipeline_with_spark_spark.sources.readers import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        if Path(f"{fixture}/{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    return con


def row_hash(rows) -> tuple[int, str]:
    """(count, order-insensitive hash) of ``rows`` (tuples)."""
    acc = 0
    for r in rows:
        acc = (acc + int.from_bytes(hashlib.md5(repr(tuple(r)).encode()).digest()[:8], "big")) % (1 << 64)
    return len(rows), f"{acc:016x}"


LAKE_BATCHES = 2
LAKE_BATCH_DOCS = 100
OPTIMIZE_EVERY = 4
DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")
DOC_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"


class Lakehouse:
    """Streaming ingest into ``VersionedTable`` ledgers with DML and
    reads on a docs table interleaved between micro-batches."""

    pass_s = 7.5

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        ctx = self.ctx
        self.batches = inputs.lake_batches(ctx.seed, LAKE_BATCHES, LAKE_BATCH_DOCS)
        # the warm-up's cost is compilation, not data: one small batch
        self.warm_batches = inputs.lake_batches(ctx.seed + 1, 1, LAKE_BATCH_DOCS // 10)
        hold = ctx.work / "batches"
        hold.mkdir(parents=True, exist_ok=True)
        for i, b in enumerate(self.batches):
            pq.write_table(b, hold / f"batch-{i:04d}.parquet")
        ctx.hashes["batches"] = inputs.file_hashes(hold)
        self.user_bytes = sum(p.stat().st_size for p in hold.iterdir())

    def setup(self) -> None:
        for name, _kind, fn in self._pass_ops(self.warm_batches, "warmup",
                                              np.random.default_rng(0), False):
            self.ctx.timed_warmup(name, fn)

    def ops(self, pass_no: int, rng: np.random.Generator):
        return self._pass_ops(self.batches, f"p{pass_no}", rng, pass_no == 0)

    # -- one pass ----------------------------------------------------------

    def _pass_ops(self, batches, tag: str, rng: np.random.Generator, checking: bool):
        """Create the pass's tables empty, then list its ops: per batch
        one micro-batch and the append of its documents, then a share of
        the other DML and of the reads in a seed-permuted order.
        The first measured pass keeps a shadow model of the docs table
        and its read results, for ``check``."""
        from data_pipeline_with_spark_spark.lake.versioned import VersionedTable
        from data_pipeline_with_spark_spark.streaming import demo

        spark = demo.streaming_session(self.ctx.spark)
        root = self.ctx.work / "lake" / tag
        if root.exists():
            shutil.rmtree(root)
        (root / "in").mkdir(parents=True)
        (root / "staged").mkdir()
        docs = VersionedTable(spark, str(root / "docs")).create(
            spark.createDataFrame([], DOC_SCHEMA))
        tables = {
            "docs": docs,
            "ledger": VersionedTable(spark, str(root / "ledger")).create(
                spark.createDataFrame([], demo.DEDUP_LEDGER_SCHEMA)),
            "bands": VersionedTable(spark, str(root / "bands")).create(
                spark.createDataFrame([], "band_idx INT, band_hash STRING, doc_id BIGINT")),
            "pairs": VersionedTable(spark, str(root / "pairs")).create(
                spark.createDataFrame([], "id_a BIGINT, id_b BIGINT")),
        }
        self.tables, self.root = tables, root
        state = {"version": 0, "commits": 0, "shadow": {}, "next_id": 10_000_000,
                 "versions": {0: row_hash([])}, "reads": [], "checking": checking}
        if checking:
            self.checked = (tables, state)
        ops = []
        for b, batch in enumerate(batches):
            staged = root / "staged" / f"batch-{b:04d}.parquet"
            pq.write_table(batch, staged)
            ops.append(("microbatch", "write",
                        lambda s=staged: self._microbatch(spark, s, root, tables)))
            append, *steps = self._dml_and_reads(spark, docs, batch, rng, state)
            ops.append(append)
            # each gap between micro-batches gets its share of the steps
            gap = steps[b::len(batches)]
            ops.extend(gap[i] for i in rng.permutation(len(gap)))
        return ops

    def _microbatch(self, spark, staged: Path, root: Path, t: dict):
        """Stage one batch file and drain it with an ``availableNow``
        query whose ``foreachBatch`` runs both folds."""
        from data_pipeline_with_spark_spark.streaming import demo

        ctx = self.ctx
        shutil.move(str(staged), str(root / "in" / staged.name))

        def fold(batch_df, epoch_id):
            with ctx.tracer.span("fold_dedup_batch", "streaming"):
                demo.fold_dedup_batch(t["ledger"], batch_df, epoch_id)
            with ctx.tracer.span("fold_near_dup_batch", "streaming"):
                demo.fold_near_dup_batch(t["bands"], t["pairs"], batch_df, epoch_id)

        q = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(root / "in"))
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", str(root / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if ctx.tracer.enabled:
            for p in q.recentProgress:
                dur = getattr(p, "durationMs", None)
                ctx.tracer.progress.append({"op": ctx.tracer.current_op,
                                            **(dur if dur is not None else p["durationMs"])})

    def _dml_and_reads(self, spark, docs, batch, rng, state):
        """The DML and read steps that follow one micro-batch. Writes
        keep the shadow model in step; in the checked pass, reads keep
        their result and the shadow's expectation."""
        from data_pipeline_with_spark_spark.sources.writers import write_noop

        tracer = self.ctx.tracer
        checking = state["checking"]
        ids = batch.column("doc_id").to_numpy()
        lo, hi = int(ids.min()), int(ids.max()) + 1
        rows = {r["doc_id"]: tuple(r[c] for c in DOC_COLS) for r in batch.to_pylist()}
        up_rows = [(i, "edited " + rows[i][1], *rows[i][2:4], rows[i][4] + 7)
                   for i in (int(x) for x in rng.choice(ids, 10, replace=False))]
        up_rows += [(state["next_id"] + j, inputs.make_text(rng, 12), "en", "src0", 0)
                    for j in range(5)]
        state["next_id"] += 5
        u_lo = int(rng.integers(lo, max(lo + 1, hi - 20)))
        d_lo = int(rng.integers(lo, max(lo + 1, hi - 10)))
        read_v = int(rng.integers(0, 1 << 30))
        cdf_v = int(rng.integers(0, 1 << 30))

        def new_version():
            state["version"] += 1
            if checking:
                state["versions"][state["version"]] = row_hash(state["shadow"].values())

        def commit(fn, apply):
            def run():
                fn()
                apply(state["shadow"])
                new_version()
                state["commits"] += 1
                if state["commits"] % OPTIMIZE_EVERY == 0:
                    docs.optimize()
                    new_version()
            return run

        def upd(shadow):
            for i in range(u_lo, u_lo + 20):
                if i in shadow:
                    shadow[i] = shadow[i][:3] + ("edited",) + shadow[i][4:]

        def dele(shadow):
            for i in range(d_lo, d_lo + 10):
                shadow.pop(i, None)

        def read(kind, make, expect):
            def run():
                df = make()
                if not isinstance(df, list):
                    tracer.record_phases(df)
                    write_noop(df)
                if checking:
                    state["reads"].append((kind, df, expect()))
            return run

        def at_version():
            state["read_at"] = read_v % (state["version"] + 1)
            return docs.read(version=state["read_at"])

        def cdf():
            v = state["version"]
            state["cdf"] = (cdf_v % v, v)
            return docs.changes(*state["cdf"])

        def cdf_expect():
            a, b = state["cdf"]
            return state["versions"][b][0] - state["versions"][a][0]

        return [
            ("append", "write", commit(
                lambda: docs.append(spark.createDataFrame(batch.to_pandas(), DOC_SCHEMA)),
                lambda s: s.update(rows))),
            ("merge_upsert", "write", commit(
                lambda: docs.merge_upsert(spark.createDataFrame(up_rows, DOC_SCHEMA), ["doc_id"]),
                lambda s: s.update({r[0]: r for r in up_rows}))),
            ("update", "write", commit(
                lambda: docs.update(f"doc_id >= {u_lo} AND doc_id < {u_lo + 20}",
                                    {"source": "'edited'"}), upd)),
            ("delete", "write", commit(
                lambda: docs.delete(f"doc_id >= {d_lo} AND doc_id < {d_lo + 10}", use_dv=True),
                dele)),
            ("read_latest", "read", read(
                "latest", docs.read, lambda: state["versions"][state["version"]])),
            ("read_version", "read", read(
                "version", at_version, lambda: state["versions"][state["read_at"]])),
            ("read_where", "read", read(
                "where", lambda: docs.read_where(("doc_id", ">=", lo)),
                lambda: row_hash([r for r in state["shadow"].values() if r[0] >= lo]))),
            ("changes", "read", read("changes", cdf, cdf_expect)),
            ("history", "read", read("history", docs.history, lambda: state["version"] + 1)),
        ]

    # -- checks ------------------------------------------------------------

    def check(self) -> list[tuple[str, bool, str]]:
        """Each read of the checked pass against the shadow model, and
        the drained dedup ledger against DuckDB."""
        tables, state = self.checked
        out = []
        for i, (kind, got, want) in enumerate(state["reads"]):
            name = f"lake_{kind}_{i}"
            if kind == "history":
                out.append((name, len(got) == want, f"history {len(got)} entries, expected {want}"))
            elif kind == "changes":
                types = dict(got.groupBy("_change_type").count().collect())
                net = types.get("insert", 0) - types.get("delete", 0)
                out.append((name, net == want, f"change feed net {net}, shadow {want}"))
            else:
                h = row_hash([tuple(r[c] for c in DOC_COLS) for r in got.collect()])
                out.append((name, h == want, f"{kind}: got {h}, shadow {want}"))
        out.append(self._check_ledger(tables["ledger"]))
        return out

    def _check_ledger(self, ledger) -> tuple[str, bool, str]:
        """The drained dedup ledger equals DuckDB's exact-dedup aggregate
        over every generated batch."""
        files = str(self.ctx.work / "batches" / "*.parquet")
        want = duckdb.sql(
            f"SELECT md5(text), min(doc_id), count(*) FROM '{files}' GROUP BY 1"
        ).fetchall()
        got = [tuple(r) for r in ledger.read().select(
            "text_hash", "keeper_id", "n_copies").collect()]
        ok = sorted(got) == sorted(want)
        return ("dedup_ledger", ok, f"ledger {len(got)} rows, oracle {len(want)}")

    def layer_metrics(self) -> dict:
        """Storage of the last pass's tables against the input bytes."""
        files = [p for name in self.tables for p in (self.root / name).rglob("*") if p.is_file()]
        logs = [p for p in files if "_log" in p.parts]
        commits = [p for p in logs if p.parent.name == "_log" and p.suffix == ".json"]
        data = [p for p in files if "_log" not in p.parts and p.suffix == ".parquet"]
        return {
            "lake.stored_bytes_per_user_byte": sum(p.stat().st_size for p in files) / self.user_bytes,
            "lake.log_bytes_per_commit": sum(p.stat().st_size for p in logs) / len(commits),
            "lake.files_per_commit": len(data) / len(commits),
            "streaming.ledger_rows": self.tables["ledger"].read().count(),
        }



WORKLOADS = {"etl": Etl, "curation": Curation, "lakehouse_ingest": Lakehouse}
