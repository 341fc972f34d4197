"""The benchmark's two workloads.

Each workload registers its generated inputs with a Spark session, runs one
pass of its operation sequence through an ``Ops`` recorder (see run.py), and
attaches to every operation an output check that runs after the timed
window. A pass returns the number of input rows it consumed.

- reports_batch: the transcript side — the headline spine (parse → attempt
  windows → runs/fails barrier → nine reports → three product reports →
  routed write), then the incremental write path over the same transcripts
  (``checkpoint.run_incremental`` into a fresh store, a report read from the
  store, and an idle poll).
- curation_docs: the document side — the one-shot extras operators over a
  documents corpus and an embeddings table, then the same corpus ingested in
  interleaved batches into the journaled stores.

Each workload leaves the other's modules idle, so it is the no-change control
for a change aimed at the other.
"""

from __future__ import annotations

import hashlib
import os
from collections import defaultdict

import pyarrow.parquet as pq

from ictspark import pyoracle

# arrival batches per journaled store in one curation_docs pass (interleaved
# by id, as the stores' graded demos split a corpus)
STORE_BATCHES = 2


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def parquet_files(path: str) -> list[str]:
    out = []
    for root, _, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def frame_hash(pdf) -> str:
    """Order-insensitive content hash of a pandas frame (ictspark.compare's
    canonical form)."""
    from ictspark.compare import canon

    return hashlib.sha256(canon(pdf).to_csv(index=False).encode()).hexdigest()


def _rows(rows) -> list[dict]:
    return [r.asDict() for r in rows]


class _Oracle:
    """DuckDB oracle SQL from ``ictspark.extras.oracle_extras`` over views
    the caller points at parquet files."""

    def __init__(self) -> None:
        import duckdb

        from ictspark.extras.oracle_extras import extras_oracles

        self.con = duckdb.connect()
        # the transcript/media paths only feed queries this benchmark never runs
        self.sql = extras_oracles("unused.parquet", "unused.parquet")

    def view(self, name: str, path: str) -> None:
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def diff(self, query: str, got) -> str | None:
        from ictspark.compare import diff

        return diff(got, self.con.execute(self.sql[query]).df())


# ------------------------------------------------------------ reports_batch --

REPORTS = [
    "yields",
    "failure_counts",
    "failures_by_index",
    "hourly_stats",
    "mb_results",
    "limit_changes",
    "first_fail",
    "failed_boards",
    "route_counts",
]
PRODUCT_REPORTS = ["product_hourly", "product_daily_failures", "product_failed_boards"]


class _Goldens:
    """pyoracle goldens over one transcripts parquet, computed on first use
    (after the timed window)."""

    def __init__(self, transcripts: str, tool_dim: str) -> None:
        self.transcripts = transcripts
        self.tool_dim = tool_dim
        self._g: dict | None = None

    def __getitem__(self, key: str):
        if self._g is None:
            self._g = self._compute()
        return self._g[key]

    def _compute(self) -> dict:
        steps = pyoracle.parse_steps(self.transcripts)
        runs = pyoracle.runs_of(steps)
        by_index: dict[tuple, int] = defaultdict(int)
        for s in steps:
            if s["status"] == "pass":
                continue
            by_index[("all", s["step"], s["board_idx"])] += 1
            if s["attempt"] == 1:
                by_index[("first", s["step"], s["board_idx"])] += 1
            if s["is_last"]:
                by_index[("after_retest", s["step"], s["board_idx"])] += 1
        mb: dict[tuple, list] = {}
        for (_, attempt), r in runs.items():
            m = mb.setdefault((r["session_id"], attempt), [r["run_ts"], 0])
            m[0] = min(m[0], r["run_ts"])
            m[1] = max(m[1], r["any_fail"])
        ts = pq.read_table(self.transcripts, columns=["ts"]).column("ts").to_pylist()
        return {
            "days": sorted({t.strftime("%Y-%m-%d") for t in ts if t is not None}),
            "steps": len(steps),
            "runs": len(runs),
            "fails": sum(s["status"] != "pass" for s in steps),
            "yields": pyoracle.golden_yield(steps),
            "failure_counts": pyoracle.golden_failure_counts(steps),
            "failures_by_index": dict(by_index),
            "hourly_stats": pyoracle.golden_hourly(steps),
            "mb_results": {
                k: (pyoracle._fmt(ts), "fail" if f else "pass") for k, (ts, f) in mb.items()
            },
            "limit_changes": pyoracle.golden_limit_changes(steps),
            "first_fail": pyoracle.golden_first_fail(steps),
            "failed_boards": {k for k, r in runs.items() if r["any_fail"]},
            "route_counts": pyoracle.golden_route_counts(steps, self.tool_dim),
            "product_daily_failures": pyoracle.golden_product_failures(steps, self.tool_dim),
        }


# report → (rows → comparable value); compared with the golden of that name
_REPORT_KEYS = {
    "yields": lambda rs: {(r["level"], r["grain"]): (r["ok"], r["nok"]) for r in rs},
    "failure_counts": lambda rs: {(r["mode"], r["step"]): r["n_fail"] for r in rs},
    "failures_by_index": lambda rs: {(r["mode"], r["step"], r["board_idx"]): r["n_fail"] for r in rs},
    "hourly_stats": lambda rs: {r["hour"]: (r["ok"], r["nok"]) for r in rs},
    "mb_results": lambda rs: {(r["session_id"], r["attempt"]): (r["run_ts"], r["result"]) for r in rs},
    "limit_changes": lambda rs: {r["step"] for r in rs},
    "first_fail": lambda rs: {r["conv_id"]: (r["step"], r["turn_idx"], r["ts"]) for r in rs},
    "failed_boards": lambda rs: {(r["conv_id"], r["attempt"]) for r in rs},
    "route_counts": lambda rs: {r["route_key"]: r["n"] for r in rs},
    "product_daily_failures": lambda rs: {
        (r["route_key"], r["step"]): (r["n_fail_all"], r["n_fail_after_retest"]) for r in rs
    },
}


def routed_counts(path: str) -> dict[str, int]:
    """Rows per route_key in a routed store, from parquet footers."""
    out: dict[str, int] = defaultdict(int)
    for f in parquet_files(path):
        key = next(p.split("=", 1)[1] for p in f.split(os.sep) if p.startswith("route_key="))
        out[key] += pq.ParquetFile(f).metadata.num_rows
    return dict(out)


class ReportsBatch:
    name = "reports_batch"

    def __init__(self, inp: str, out: str) -> None:
        self.inp = inp
        self.out = out
        self.transcripts = os.path.join(inp, "transcripts.parquet")
        self.golden = _Goldens(self.transcripts, os.path.join(inp, "tool_dim.parquet"))
        self.first_hash: dict[str, str] = {}
        self.counters: dict[str, float] = {}
        # the last pass's output stores (a pass whose materialize failed
        # leaves them unwritten)
        self.routed = self.store = self.ck = os.path.join(out, "none")

    def register(self, spark) -> None:
        self.spark = spark
        self.t = spark.read.parquet(self.transcripts)
        self.tool_dim = spark.read.parquet(os.path.join(self.inp, "tool_dim.parquet"))
        self.n_turns = self.t.count()

    def input_bytes(self) -> int:
        return dir_bytes(self.transcripts)

    def store_bytes(self) -> int:
        """The last pass's output stores: routed fan-out plus the
        incremental store and its journals."""
        return dir_bytes(self.routed) + dir_bytes(self.store) + dir_bytes(self.ck)

    def _check_golden(self, name: str):
        def check(rows) -> None:
            got = _REPORT_KEYS[name](rows)
            if got != self.golden[name]:
                raise AssertionError(f"{name}: output differs from the pyoracle golden")

        return check

    def _check_stable(self, name: str):
        """Reports without a pyoracle golden: non-empty, and every pass
        yields the first pass's content."""

        def check(rows) -> None:
            if not rows:
                raise AssertionError(f"{name}: empty output")
            h = hashlib.sha256(repr(sorted(map(repr, rows))).encode()).hexdigest()
            if self.first_hash.setdefault(name, h) != h:
                raise AssertionError(f"{name}: output differs from the first pass")

        return check

    def _check_materialize(self, counts: dict) -> None:
        want = {k: self.golden[k] for k in ("steps", "runs", "fails")}
        if counts != want:
            raise AssertionError(f"materialize counts {counts} != golden {want}")

    def _check_days(self, processed: list[str]) -> None:
        if processed != self.golden["days"]:
            raise AssertionError(f"run_incremental processed {processed}, input has {self.golden['days']}")

    def _check_idle(self, processed: list[str]) -> None:
        if processed:
            raise AssertionError(f"idle poll reprocessed {processed}")

    def _check_routed(self, path: str) -> None:
        if routed_counts(path) != self.golden["route_counts"]:
            raise AssertionError("routed store rows per route_key differ from the golden")

    def run_pass(self, k: int, op) -> int:
        from ictspark import aggregates as A
        from ictspark import checkpoint, route
        from ictspark.pipeline import ReportSet

        box = {}

        def materialize():
            box["rs"] = ReportSet(self.t, self.tool_dim)
            counts = box["rs"].materialize()
            self.counters["parse.steps_per_turn"] = counts["steps"] / self.n_turns
            return counts

        op("pipeline", "materialize", materialize, self._check_materialize)
        rs = box.get("rs")
        if rs is None:
            return self.n_turns
        for name in REPORTS:
            check = self._check_golden(name) if name in _REPORT_KEYS else self._check_stable(name)
            op("pipeline", name, lambda n=name: _rows(getattr(rs, n)().collect()), check)

        def product(name: str):
            if "prs" not in box:
                box["prs"] = rs.product_reports()
            return _rows(box["prs"][name].collect())

        for name in PRODUCT_REPORTS:
            check = self._check_golden(name) if name in _REPORT_KEYS else self._check_stable(name)
            op("product_report", name, lambda n=name: product(n), check)

        self.routed = os.path.join(self.out, f"routed-{k}")

        def write():
            route.write_routed(rs.enriched(), self.routed, files_per_partition=1)
            return self.routed

        op("route", "write_routed", write, self._check_routed)
        rs.unpersist()

        # the write path: a fresh incremental store per pass over the same
        # transcripts, a report read from it, and a poll with no new input
        self.store = os.path.join(self.out, f"store-{k}")
        self.ck = os.path.join(self.out, f"ck-{k}")
        incremental = lambda: checkpoint.run_incremental(self.spark, self.t, self.tool_dim, self.store, self.ck)  # noqa: E731
        processed = op("checkpoint", "run_incremental", incremental, self._check_days) or []
        op(
            "checkpoint",
            "report_from_store",
            lambda: _rows(A.yields(checkpoint.report_from_store(self.spark, self.store)).collect()),
            self._check_golden("yields"),
        )
        again = op("checkpoint", "idle_poll", incremental, self._check_idle) or []
        self._count_outputs(processed, again)
        return self.n_turns

    def _count_outputs(self, processed: list[str], again: list[str]) -> None:
        lines = 0
        for f in ("_lineage.jsonl", "_snapshots.jsonl"):
            p = os.path.join(self.ck, f)
            if os.path.exists(p):
                with open(p) as fh:
                    lines += sum(1 for _ in fh)
        self.counters.update(
            {
                "route.bytes_written_mb": dir_bytes(self.routed) / 1e6,
                "route.files_written": len(parquet_files(self.routed)),
                "checkpoint.rewrite_ratio": len(again) / max(1, len(processed) + len(again)),
                "checkpoint.journal_lines": lines,
                "checkpoint.store_mb": (dir_bytes(self.store) + dir_bytes(self.ck)) / 1e6,
            }
        )

    def trace_layers(self, op) -> None:
        """Force each lazy spine layer's output on its own (traced run
        only): cumulative times, from which trace.per_layer derives self
        times."""
        from ictspark import aggregates as A
        from ictspark import enrich, parse

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        t, td = self.t, self.tool_dim
        op("io", "scan", lambda: noop(t))
        op("parse", "parse_steps", lambda: noop(parse.parse_steps(t)))
        op("parse", "parse_steps_arrow", lambda: noop(parse.parse_steps_arrow(t)))
        op("aggregates", "with_attempt", lambda: noop(A.with_attempt(parse.parse_steps(t))))
        op("aggregates", "runs", lambda: noop(A.runs(A.with_attempt(parse.parse_steps(t)))))
        op("enrich", "enrich_steps", lambda: noop(enrich.enrich_steps(A.with_attempt(parse.parse_steps(t)), td)))


# upstream op of each forced layer: self time = cumulative − upstream
TRACE_UPSTREAM = {
    "parse.parse_steps": "io.scan",
    "parse.parse_steps_arrow": "io.scan",
    "aggregates.with_attempt": "parse.parse_steps",
    "aggregates.runs": "aggregates.with_attempt",
    "enrich.enrich_steps": "aggregates.with_attempt",
}


# ------------------------------------------------------------ curation_docs --


class CurationDocs:
    name = "curation_docs"

    def __init__(self, inp: str, out: str) -> None:
        self.inp = inp
        self.out = out
        self.docs_path = os.path.join(inp, "documents.parquet")
        self.emb_path = os.path.join(inp, "embeddings.parquet")
        self.first_hash: dict[str, str] = {}
        self.counters: dict[str, float] = {}
        self._oracle: _Oracle | None = None
        self.k = 0  # the last pass run

    def register(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.docs_path)
        self.emb = spark.read.parquet(self.emb_path)
        self.n_rows = self.docs.count() + self.emb.count()

    def input_bytes(self) -> int:
        return os.path.getsize(self.docs_path) + os.path.getsize(self.emb_path)

    def store_bytes(self) -> int:
        """The last pass's written keep lists and journaled stores."""
        return dir_bytes(os.path.join(self.out, f"pass-{self.k}"))

    def oracle(self) -> _Oracle:
        if self._oracle is None:
            self._oracle = _Oracle()
            self._oracle.view("documents", self.docs_path)
            self._oracle.view("embeddings", self.emb_path)
        return self._oracle

    def _check(self, query: str, name: str):
        """Against the DuckDB oracle on the first pass; later passes must
        hash-equal the checked pass."""

        def check(got) -> None:
            import pandas as pd

            if isinstance(got, str):  # a written store: read it back
                got = pd.read_parquet(got)
            h = frame_hash(got)
            if name in self.first_hash:
                if self.first_hash[name] != h:
                    raise AssertionError(f"{name}: output differs from the checked pass")
                return
            d = self.oracle().diff(query, got)
            if d is not None:
                raise AssertionError(f"{name}: differs from the oracle: {d}")
            self.first_hash[name] = h

        return check

    def _check_store(self, query: str, name: str, read):
        """The store's standing output after its last batch equals the
        oracle's one-shot definition over the whole corpus (the N-batch ==
        one-shot property)."""
        check = self._check(query, name)
        return lambda _stats: check(read().toPandas())

    def run_pass(self, k: int, op) -> int:
        from pyspark.sql import functions as F

        from ictspark.extras import curation, dedup, incr_dsir, incr_para
        from ictspark.extras import similarity, textstats

        spark, docs, emb = self.spark, self.docs, self.emb
        self.k = k
        out = os.path.join(self.out, f"pass-{k}")

        def write(df, what: str) -> str:
            path = os.path.join(out, what)
            df.write.mode("overwrite").parquet(path)
            return path

        def components():
            labels = curation.dedup_components(docs)
            try:
                return write(labels, "dedup_components")
            finally:
                labels.unpersist()  # caller contract: release the persisted labels

        raw, target = docs.where(F.col("doc_id") % 5 != 0), docs.where(F.col("doc_id") % 5 == 0)
        centroids = similarity.fixed_centroids(emb)
        op(
            "extras.dedup",
            "minhash_lsh_pairs",
            lambda: dedup.minhash_lsh_pairs(docs).toPandas(),
            self._check("minhash_lsh_pairs", "minhash_lsh_pairs"),
        )
        op("extras.curation", "dedup_components", components, self._check("dedup_components", "dedup_components"))
        op(
            "extras.textstats",
            "unigram_logprob",
            lambda: textstats.unigram_logprob(docs).toPandas(),
            self._check("unigram_logprob", "unigram_logprob"),
        )
        op(
            "extras.similarity",
            "semantic_keep_list",
            lambda: write(similarity.semantic_keep_list(emb, centroids=centroids), "semantic_keep_list"),
            self._check("semantic_keep_list", "semantic_keep_list"),
        )

        # the journaled stores, fed the same corpus in interleaved batches
        st = {name: os.path.join(out, name) for name in ("incr_para", "incr_dsir")}
        op("extras.stores", "incr_dsir.init_store", lambda: incr_dsir.init_store(target, st["incr_dsir"]))
        n = STORE_BATCHES
        for i in range(n):
            last = i == n - 1
            bd = docs.where(F.col("doc_id") % n == i)
            batch = f"b{i:03d}"

            def checked(query: str, name: str, read):
                return self._check_store(query, name, read) if last else None

            op(
                "extras.stores",
                "incr_para.ingest",
                lambda: incr_para.ingest_batch(bd, st["incr_para"], batch),
                checked("paragraph_dedup_incremental", "incr_para", lambda: incr_para.paradedup_read(spark, st["incr_para"])),
            )
            op(
                "extras.stores",
                "incr_dsir.ingest",
                lambda: incr_dsir.ingest_batch(raw.where(F.col("doc_id") % n == i), st["incr_dsir"], batch),
                checked("dsir_weights_incremental", "incr_dsir", lambda: incr_dsir.weights_read(spark, st["incr_dsir"])),
            )
        return self.n_rows

    def trace_layers(self, op) -> None:
        """Every curation operator is forced by its own pass op already."""


WORKLOADS = {w.name: w for w in (ReportsBatch, CurationDocs)}
