"""The closed-loop workloads: search_read and ingest_curate.

One client in one process drives the engine on Spark local[nproc]: each
call starts only after the previous one returned. A run is

  1. generate the seeded inputs (not timed);
  2. set-up, timed as setup_s: start the session, run the first
     pandas-UDF job, build what the workload serves from;
  3. cycles until --seconds have passed (the measured loop, `Run.loop`);
  4. stop Spark and report.

Every call into a layer runs inside `Run.call`, a span named
`<layer>.<what>`; a span covers the Spark action the call triggers.
Correctness checks run between calls and are not timed.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen, oracle
from perfbench.trace import Recorder, median, tail

TOP_K = 10
N_PROBE = 4
N_CELLS = 64


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, total bytes of them) under `path`."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(base, n))
    return files, size


class Run:
    """State and bookkeeping shared by the workloads."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str, cpus: int):
        self.seed, self.seconds, self.work, self.cpus = seed, seconds, work, cpus
        self.rec = Recorder(trace)
        self.rss = None  # PeakRss sampler, stopped after the second cycle
        self.spark = None
        self.t_session = 0.0
        self.measuring = False
        self._depth = 0
        self.setup_s = 0.0
        self.cycle_s: list[float] = []
        self.cycle_items: list[int] = []
        self.warmup_s: float | None = None
        # per-call durations and per-cycle figures of the measured loop
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.setup_durs: dict[str, float] = defaultdict(float)
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}  # per-layer figures the workload fills in
        self.extra: dict[str, dict] = {}  # workload metrics for the detail line

    # -- timing -------------------------------------------------------------
    @contextmanager
    def call(self, name: str, request: int = 0):
        top = self._depth == 0
        self._depth += 1
        s = {"dur": 0.0}
        try:
            with self.rec.span(name, request) as s:
                yield s
        finally:
            self._depth -= 1
            if self.measuring:
                self.samples[name].append(s["dur"])
            else:
                self.setup_durs[name] += s["dur"]
                if top:
                    self.setup_s += s["dur"]

    def check(self, what: str, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            print(f"CHECK FAILED [{what}]: {reason}", file=sys.stderr, flush=True)

    def op(self, what: str, fn) -> None:
        """Run one operation and its checks; an exception is a failed op."""
        try:
            fn()
        except Exception:  # noqa: BLE001 - a failing operation is counted, the run goes on
            self.attempted += 1
            self.failed += 1
            print(f"OPERATION FAILED [{what}]:\n{traceback.format_exc()}", file=sys.stderr,
                  flush=True)

    # -- session ------------------------------------------------------------
    def start_session(self) -> None:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep every job/stage of a run for the traced run's counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        self.t_session = time.perf_counter()
        with self.call("session.start"):
            from aeuc_vector_db_spark.session import get_spark

            self.spark = get_spark(cpus=self.cpus, extra_conf=conf)
        self.rec.attach(self.spark.sparkContext)
        # the first pandas-UDF job spawns the Python worker daemon and one
        # worker per core; it is paid once per process
        with self.call("session.first_udf_job"):
            from pyspark.sql import functions as F

            from aeuc_vector_db_spark.operators.text import shingle_hashes_pandas

            self.spark.range(0, self.cpus * 8, numPartitions=self.cpus).select(
                shingle_hashes_pandas(3)(
                    F.concat(F.lit("warm up the python workers "), F.col("id").cast("string")))
            ).collect()

    def read(self, path: str):
        return self.spark.read.parquet(path)

    # -- the loop -----------------------------------------------------------
    def _request_s(self) -> float:
        return sum(sum(v) for k, v in self.samples.items() if k.startswith("request."))

    def loop(self, cycle) -> None:
        """Cycles until `seconds` pass, at least one; the cycle in flight
        at the deadline completes. `cycle(i)` returns the number of work
        items it completed.

        The first cycle pays the first-call costs of a fresh process (plan
        compilation, worker-side imports). When more cycles follow it, it
        is the warm-up: its time is kept as `warmup_s` and its samples are
        dropped, so the figures do not depend on how many cycles fit."""
        self.measuring = True
        t_end = time.perf_counter() + self.seconds
        first: dict[str, int] = {}
        i = 0
        while i == 0 or time.perf_counter() < t_end:
            before = self._request_s()
            done = [0]

            def one():
                done[0] = cycle(i)

            self.op(f"cycle {i}", one)
            self.cycle_s.append(self._request_s() - before)
            self.cycle_items.append(done[0])
            if i == 0:
                first = {k: len(v) for k, v in self.samples.items()}
            elif i == 1 and self.rss is not None:
                # peak memory covers the same work in every run: set-up and
                # at most two cycles, however many more fit
                self.rss.stop()
            i += 1
        if len(self.cycle_s) > 1:
            self.warmup_s = self.cycle_s.pop(0)
            self.cycle_items.pop(0)
            for k, n in first.items():
                del self.samples[k][:n]

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
        self.spark = None


# ---------------------------------------------------------------------------
# search_read
# ---------------------------------------------------------------------------

SEARCH = dict(n=20_000, q=16, n_batches=4, n_facade=1_000, n_filtered=8)


def search_read(run: Run) -> None:
    from aeuc_vector_db_spark.operators import ann
    from aeuc_vector_db_spark.operators.search import knn_search_batch_arrow
    from aeuc_vector_db_spark.vector_field import VectorField

    inp = gen.search_inputs(run.seed, run.work, **SEARCH)
    n = SEARCH["n"]
    ids = np.arange(n, dtype=np.int64)
    row_of = {i: i for i in range(n)}
    facade_ids = np.asarray(inp.facade_ids)
    filtered = gen.read_filtered(run.work)
    ivf_dir = os.path.join(run.work, "ivf")

    run.start_session()
    spark = run.spark
    with run.call("request.build_index"):
        with run.call("sources.read_plan"):
            corpus = run.read(inp.corpus_path)
        with run.call("ann.fit"):
            cents = ann.fit_centroids_sample_local(corpus, k=N_CELLS, seed=run.seed)
        with run.call("ann.assign_write"):
            ann.write_ivf_corpus(corpus, ann.assign_centroids(corpus, cents), ivf_dir)
            cents_df = spark.createDataFrame(cents, "centroid_id int, centroid array<double>")
    cent_mat = np.asarray([v for _, v in sorted(cents)], dtype=np.float64)
    cell_rows = np.bincount(oracle.assign_cells(inp.corpus, cent_mat), minlength=N_CELLS)

    with run.call("request.load_facade"):
        with run.call("sources.read_plan"):
            facade_df = run.read(inp.facade_path)
        with run.call("vector_field.load"):
            vf = VectorField(spark, dim=gen.DIM)
            vf.add_iglyphs_batch(facade_df)

    def cycle(i: int) -> int:
        b = i % len(inp.query_files)
        qfile, qmat = inp.query_files[b], inp.queries[b]
        req = run.rec.new_request()
        with run.call("request.knn", req):
            with run.call("sources.read_plan"):
                corpus = run.read(inp.corpus_path)
                queries = run.read(qfile)
            with run.call("search.arrow_batch") as s:
                rows = knn_search_batch_arrow(corpus, queries, top_k=TOP_K).collect()
        run.samples["search.pair_scores_per_s"].append(n * len(qmat) / s["dur"])
        by_q = defaultdict(list)
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q[r["query_id"]].append(r["vec_id"])
        best = []
        for j in range(len(qmat)):
            reason, want = oracle.check_exact_topk(by_q.get(j, []), inp.corpus, ids, qmat[j], TOP_K)
            best.append(want)
            run.check("knn exact top-10", reason)

        with run.call("request.ivf", req):
            with run.call("sources.read_plan"):
                ivf = run.read(ivf_dir)
                queries = run.read(qfile)
            with run.call("ann.probe_plan"):
                res = ann.ivf_search_batch_arrow(ivf, cents_df, queries, top_k=TOP_K,
                                                 nprobe=N_PROBE)
            with run.call("ann.fine_scan"):
                rows = res.collect()
        by_q = defaultdict(list)
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q[r["query_id"]].append((r["vec_id"], r["score"]))
        union: set[int] = set()
        for j in range(len(qmat)):
            got = by_q.get(j, [])
            run.check("ivf valid ranking", oracle.check_approx_topk(
                [g for g, _ in got], [s for _, s in got], inp.corpus, row_of, qmat[j], TOP_K))
            run.samples["ivf_recall"].append(oracle.recall([g for g, _ in got], best[j]))
            union.update(oracle.probed_cells(cent_mat, qmat[j], N_PROBE))
        run.samples["cells_probed_frac"].append(len(union) / N_CELLS)
        run.samples["rows_scanned_frac"].append(cell_rows[sorted(union)].sum() / n)

        vec, ctx = filtered[i % len(filtered)]
        with run.call("request.filtered", req):
            with run.call("vector_field.search"):
                got = vf.search(vec, top_k=TOP_K, outer_context_filter=ctx)
        sel = np.flatnonzero(inp.facade_ctx == ctx)
        reason, _ = oracle.check_exact_topk([g for g, _ in got], inp.facade[sel], facade_ids[sel],
                                            np.asarray(vec, dtype=np.float32), TOP_K)
        run.check("filtered exact top-10", reason)
        return 2 * len(qmat) + 1

    run.loop(cycle)
    d = run.samples
    knn_n = SEARCH["q"] * len(d["request.knn"])
    run.extra.update(
        knn_qps=_m(knn_n / sum(d["request.knn"]), "queries/s"),
        knn_p50_s=_m(median(d["request.knn"]), "s", len(d["request.knn"])),
        knn_tail_s=_tail(d["request.knn"]),
        ivf_qps=_m(knn_n / sum(d["request.ivf"]), "queries/s"),
        ivf_p50_s=_m(median(d["request.ivf"]), "s", len(d["request.ivf"])),
        ivf_tail_s=_tail(d["request.ivf"]),
        ivf_recall_at_10=_m(float(np.mean(d["ivf_recall"])), "fraction", len(d["ivf_recall"])),
        filtered_p50_s=_m(median(d["request.filtered"]), "s", len(d["request.filtered"])),
    )
    run.layer.update({
        "search.arrow_batch_s": median(d["search.arrow_batch"]),
        "search.pair_scores_per_s": median(d["search.pair_scores_per_s"]),
        "ann.probe_plan_s": median(d["ann.probe_plan"]),
        "ann.fine_scan_s": median(d["ann.fine_scan"]),
        "ann.cells_probed_frac": float(np.mean(d["cells_probed_frac"])),
        "ann.rows_scanned_frac": float(np.mean(d["rows_scanned_frac"])),
        "vector_field.search_s": median(d["vector_field.search"]),
        "ann.fit_s": run.setup_durs["ann.fit"],
        "ann.assign_write_s": run.setup_durs["ann.assign_write"],
        "vector_field.load_s": run.setup_durs["vector_field.load"],
    })


# ---------------------------------------------------------------------------
# ingest_curate
# ---------------------------------------------------------------------------

INGEST = dict(base_rows=10_000, batch_rows=4_000, dup_frac=0.03)


def ingest_curate(run: Run) -> None:
    from aeuc_vector_db_spark import schemas
    from aeuc_vector_db_spark.operators import ann, crud
    from aeuc_vector_db_spark.operators.search import knn_search_batch_arrow
    from aeuc_vector_db_spark.vector_field import VectorField

    inp = gen.ingest_inputs(run.seed, run.work, **INGEST)
    table_root = os.path.join(run.work, "table")
    ivf_dir = os.path.join(run.work, "ivf")
    state = {"version": 0, "rows": len(inp.ids), "points": 0}

    def vpath(v: int) -> str:
        # version 0 is the generated base table; commits write v1, v2, ...
        return inp.base_path if v == 0 else os.path.join(table_root, f"v{v:05d}")

    run.start_session()
    spark = run.spark
    with run.call("request.build_index"):
        with run.call("sources.read_plan"):
            table = run.read(vpath(0))
        with run.call("ann.fit"):
            cents = ann.fit_centroids_sample_local(table, k=N_CELLS, seed=run.seed,
                                                   id_col="iglyph_id")
        with run.call("ann.assign_write"):
            ann.write_ivf_corpus(table, ann.assign_centroids(table, cents, id_col="iglyph_id"),
                                 ivf_dir, id_col="iglyph_id")
            cents_df = spark.createDataFrame(cents, "centroid_id int, centroid array<double>")
    build_s = run.setup_durs["ann.fit"] + run.setup_durs["ann.assign_write"]
    cent_mat = np.asarray([v for _, v in sorted(cents)], dtype=np.float64)
    with run.call("vector_field.init"):
        vf = VectorField(spark, dim=gen.DIM)
    ivf_files, ivf_bytes = dir_stats(ivf_dir)
    sizes = {"table_files": 0, "ivf_files": ivf_files, "ivf_bytes": ivf_bytes, "bytes": 0,
             "rows": 0, "skipped": 0}

    curation = Curation(run)

    def cycle(i: int) -> int:
        req = run.rec.new_request()
        n_docs = curation.cycle(i, req)
        batch_path, delta, fresh = inp.next_batch(i)
        old, new = vpath(state["version"]), vpath(state["version"] + 1)
        with run.call("request.commit", req):
            with run.call("sources.read_plan"):
                existing = run.read(old)
                batch = run.read(batch_path)
            with run.call("crud.commit"):
                merged = crud.insert_rows(existing, schemas.assert_valid(batch, gen.DIM),
                                          on_duplicate="skip")
                crud.commit_with_digest(merged, new)
        state["version"] += 1
        got = pq.read_table(new, columns=["iglyph_id"]).column(0).to_pylist()
        skipped = inp.batch_rows - (len(got) - state["rows"])
        sizes["skipped"] += skipped
        state["rows"] = len(got)
        reason = None
        if len(got) != len(set(got)) or set(got) != set(inp.ids):
            reason = f"read back {len(got)} rows / {len(set(got))} ids, want {len(inp.ids)} ids"
        elif skipped != inp.dup_rows:
            reason = f"skipped {skipped} duplicate rows, planted {inp.dup_rows}"
        run.check("commit read-back id set", reason)
        files, nbytes = dir_stats(new)
        sizes.update(table_files=files)
        sizes["bytes"] += nbytes
        sizes["rows"] += len(got)
        if old != inp.base_path:
            shutil.rmtree(old)

        with run.call("request.append", req):
            with run.call("sources.read_plan"):
                delta_df = run.read(delta)
            with run.call("ann.append"):
                ann.ivf_append(delta_df, cents, ivf_dir, id_col="iglyph_id")
        ivf_before = sizes["ivf_files"]
        files, nbytes_ivf = dir_stats(ivf_dir)
        sizes["ivf_files"] = files
        sizes["bytes"] += nbytes_ivf - sizes["ivf_bytes"]
        sizes["ivf_bytes"] = nbytes_ivf
        sizes["rows"] += fresh
        run.check("ivf append wrote files", None if files > ivf_before else "no new IVF files")

        qfile, q = inp.query(i)
        mat, all_ids = inp.matrix(), np.asarray(inp.ids)
        with run.call("request.knn", req):
            with run.call("sources.read_plan"):
                table = run.read(new)
                queries = run.read(qfile)
            with run.call("search.arrow_batch") as s:
                rows = knn_search_batch_arrow(table, queries, top_k=TOP_K,
                                              id_col="iglyph_id").collect()
        run.samples["search.pair_scores_per_s"].append(len(mat) / s["dur"])
        got_ids = [r["iglyph_id"] for r in sorted(rows, key=lambda r: r["rank"])]
        reason, best = oracle.check_exact_topk(got_ids, mat, all_ids, q[0], TOP_K)
        run.check("knn exact top-10", reason)

        with run.call("request.ivf", req):
            with run.call("sources.read_plan"):
                ivf = run.read(ivf_dir)
                queries = run.read(qfile)
            with run.call("ann.probe_plan"):
                res = ann.ivf_search_batch_arrow(ivf, cents_df, queries, top_k=TOP_K,
                                                 nprobe=N_PROBE, id_col="iglyph_id")
            with run.call("ann.fine_scan"):
                rows = sorted(res.collect(), key=lambda r: r["rank"])
        row_of = {v: j for j, v in enumerate(inp.ids)}
        run.check("ivf valid ranking", oracle.check_approx_topk(
            [r["iglyph_id"] for r in rows], [r["score"] for r in rows], mat, row_of, q[0], TOP_K))
        run.samples["ivf_recall"].append(oracle.recall([r["iglyph_id"] for r in rows], best))
        cells = oracle.probed_cells(cent_mat, q[0], N_PROBE)
        run.samples["rows_scanned_frac"].append(
            np.isin(oracle.assign_cells(mat, cent_mat), cells).mean())

        glyph, ctx, vec = inp.point(i)
        pid = f"p{run.seed}-{i:05d}"
        with run.call("request.point_write", req):
            with run.call("vector_field.add_iglyph"):
                got_id = vf.add_iglyph(glyph, ctx, vec, iglyph_id=pid)
        state["points"] += 1
        run.check("point write id", None if got_id == pid else f"returned {got_id!r}")
        run.samples["fresh_rows"].append(fresh)
        return n_docs + fresh

    run.loop(cycle)
    run.measuring = False
    run.op("facade row count", lambda: run.check(
        "facade row count",
        None if vf.iglyphs.count() == state["points"] else "point writes missing from facade"))
    d = run.samples
    write_s = sum(d["request.commit"]) + sum(d["request.append"])
    run.extra.update(
        knn_qps=_m(len(d["request.knn"]) / sum(d["request.knn"]), "queries/s"),
        knn_p50_s=_m(median(d["request.knn"]), "s", len(d["request.knn"])),
        knn_tail_s=_tail(d["request.knn"]),
        ivf_qps=_m(len(d["request.ivf"]) / sum(d["request.ivf"]), "queries/s"),
        ivf_p50_s=_m(median(d["request.ivf"]), "s", len(d["request.ivf"])),
        ivf_tail_s=_tail(d["request.ivf"]),
        ivf_recall_at_10=_m(float(np.mean(d["ivf_recall"])), "fraction", len(d["ivf_recall"])),
        ivf_build_rows_per_s=_m(INGEST["base_rows"] / build_s, "rows/s"),
        ingest_rows_per_s=_m(sum(d["fresh_rows"]) / write_s, "rows/s"),
        commit_p50_s=_m(median(d["request.commit"]), "s", len(d["request.commit"])),
        point_write_p50_s=_m(median(d["request.point_write"]), "s", len(d["request.point_write"])),
    )
    run.layer.update({
        "sources.table_files": sizes["table_files"],
        "sources.ivf_files": sizes["ivf_files"],
        "sources.bytes_written_per_row": sizes["bytes"] / sizes["rows"],
        "search.arrow_batch_s": median(d["search.arrow_batch"]),
        "search.pair_scores_per_s": median(d["search.pair_scores_per_s"]),
        "ann.fit_s": run.setup_durs["ann.fit"],
        "ann.assign_write_s": run.setup_durs["ann.assign_write"],
        "ann.probe_plan_s": median(d["ann.probe_plan"]),
        "ann.fine_scan_s": median(d["ann.fine_scan"]),
        "ann.cells_probed_frac": N_PROBE / N_CELLS,
        "ann.rows_scanned_frac": float(np.mean(d["rows_scanned_frac"])),
        "ann.append_s": median(d["ann.append"]),
        "crud.commit_s": median(d["crud.commit"]),
        "crud.dup_rows_skipped": sizes["skipped"],
        "vector_field.add_iglyph_s": median(d["vector_field.add_iglyph"]),
    })
    curation.report()


# ---------------------------------------------------------------------------
# curation step of ingest_curate
# ---------------------------------------------------------------------------

DOCS = dict(n_docs=1_000, exact_frac=0.05, near_frac=0.05, min_len=50, max_len=100)


class Curation:
    """Exact dedup, then MinHash near-dup (threshold 0.5) over the exact
    keepers, then keep-one over the near-dup pairs: the text-curation pass
    each ingest batch's documents go through."""

    def __init__(self, run: Run):
        self.run = run
        self.missed_by_lsh = 0

    def cycle(self, i: int, req: int) -> int:
        from aeuc_vector_db_spark.operators import dedup
        from aeuc_vector_db_spark.operators.text import MINHASH_COEFFS

        run = self.run
        inp = gen.doc_inputs(run.seed, run.work, i, **DOCS)
        by_text: dict[str, list[int]] = defaultdict(list)
        for doc_id, text in inp.texts.items():
            by_text[text].append(doc_id)
        want_exact = {min(v): len(v) for v in by_text.values()}
        hashes: dict[int, set] = {}

        def hs(doc_id: int) -> set:
            if doc_id not in hashes:
                hashes[doc_id] = oracle.shingle_hashes(inp.texts[doc_id])
            return hashes[doc_id]

        # planted pairs the LSH banding can find; the rest are counted as misses
        findable = [p for p in inp.near_pairs
                    if oracle.jaccard(hs(p[0]), hs(p[1])) >= 0.5
                    and oracle.shares_band(hs(p[0]), hs(p[1]), MINHASH_COEFFS)]
        self.missed_by_lsh += len(inp.near_pairs) - len(findable)

        with run.call("request.curate", req):
            with run.call("sources.read_plan"):
                docs = run.read(inp.docs_path)
            with run.call("dedup.exact"):
                exact = dedup.exact_dedup(docs).localCheckpoint(eager=True)
            keepers = docs.join(exact.select("doc_id"), "doc_id", "left_semi")
            with run.call("dedup.minhash"):
                pairs = dedup.minhash_near_dup(keepers, threshold=0.5).localCheckpoint(eager=True)
            with run.call("dedup.keep_one"):
                kept = dedup.keep_one(pairs).collect()

        got_exact = {r["doc_id"]: r["dup_count"] for r in exact.collect()}
        run.check("exact groups collapse",
                  None if got_exact == want_exact else
                  f"{len(got_exact)} groups, want {len(want_exact)}")
        got_pairs = [(r["a_id"], r["b_id"], r["jaccard"]) for r in pairs.collect()]
        reason = None
        for a, b, jac in got_pairs:
            true = oracle.jaccard(hs(a), hs(b))
            if a not in want_exact or b not in want_exact or true < 0.5 or abs(true - jac) > 1e-12:
                reason = f"pair ({a}, {b}) jaccard {jac}, true {true}"
                break
        if reason is None:
            found = {(a, b) for a, b, _ in got_pairs}
            missing = [p for p in findable if (min(p), max(p)) not in found]
            if missing:
                reason = (f"{len(missing)} planted near-duplicate pairs not reported,"
                          f" e.g. {missing[0]}")
        run.check("near-duplicate pairs", reason)
        comp = oracle.components([(a, b) for a, b, _ in got_pairs])
        got_keep = {r["doc_id"]: (r["keeper_id"], r["keep"]) for r in kept}
        run.check("keep_one components",
                  None if got_keep == {x: (c, x == c) for x, c in comp.items()} else
                  "components differ from union-find over the reported pairs")
        if run.rec.enabled:
            # traced runs only: LSH candidates per verified pair, an extra job
            # outside the request, so it is not part of the cycle time
            with run.call("dedup.candidates"):
                cands = dedup.minhash_candidates(keepers).count()
            run.samples["candidates_per_verified_pair"].append(cands / max(1, len(got_pairs)))
        run.samples["docs"].append(len(inp.texts))
        return len(inp.texts)

    def report(self) -> None:
        run, d = self.run, self.run.samples
        run.extra.update(
            dedup_docs_per_s=_m(sum(d["docs"]) / sum(d["request.curate"]), "docs/s"),
            curate_p50_s=_m(median(d["request.curate"]), "s", len(d["request.curate"])),
            planted_pairs_missed_by_lsh=_m(self.missed_by_lsh, "count"),
        )
        run.layer.update({
            "dedup.exact_s": median(d["dedup.exact"]),
            "dedup.minhash_s": median(d["dedup.minhash"]),
            "dedup.keep_one_s": median(d["dedup.keep_one"]),
        })
        if d["candidates_per_verified_pair"]:
            run.layer["dedup.candidates_per_verified_pair"] = float(
                np.mean(d["candidates_per_verified_pair"]))


def _m(value: float, unit: str, n: int | None = None) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def _tail(values: list[float]) -> dict:
    t = tail(values)
    if t is None:
        return {"value": None, "unit": "s", "n": len(values),
                "note": "fewer than 11 samples: no percentile has 10 samples beyond it"}
    return {"value": t["value"], "unit": "s", "n": t["n"], "percentile": t["percentile"]}


WORKLOADS = {"search_read": search_read, "ingest_curate": ingest_curate}
