"""The benchmark workloads.  Each is one closed-loop client: every call
blocks on collect() before the next one starts.

serve   builds an index and maintains it once (append, delete, compact),
        then times a mix of single searches and search_many batches.
curate  times passes over __spark_entry__.queries() leaves on
        a generated documents table.

Both warm up on their own operation mix before the timed window, and
check every answer against the repository's oracles after it.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from observe import LayerTrace, PeakRss, subtract_layer, tree_cpu_s

SPARK_MASTER = "local[2]"
SHUFFLE_PARTITIONS = 2
DRIVER_MEMORY = "2g"
# curate: untimed passes over the leaves before the window.  Every pass
# collect()s its leaves (which, unlike count(), computes every column) so
# that the timed passes run the warmed plans and all answers get checked.
WARMUP_PASSES = 1

# layers whose Spark work is attributed by job group in the traced run
SPARK_LAYERS = ["wand", "batch.single", "batch.many", "query.phrase", "highlight",
                "build", "append", "delete", "compact"]
BUILD_STAGES = ["turns", "doc_meta", "term_dict", "stats", "postings", "blocks"]
TABLES = ["turns", "doc_meta", "term_dict", "postings", "blocks"]
# boosted_bm25 stands for bm25_topk, which ranks on the unrounded score sum:
# documents with equal term statistics (the planted duplicates) tie there,
# and Spark breaks the tie by summation order, so its top 10 flips between
# runs where DuckDB's does not.  boosted_bm25 runs the same BM25 plan and
# ranks on the rounded score, which both engines order identically.
CURATE_LEAVES = ["term_df_top100", "boosted_bm25", "tfidf_topk", "quality_score",
                 "gopher_filter", "minhash_lsh_verified"]
# leaves without an oracle_sql() twin are checked here against the
# planted duplicates instead
ROWS_ONLY_LEAVES = {"minhash_lsh_verified"}

END_TO_END = ["setup_s", "throughput_per_s", "cpu_ms_per_item"]


def per_layer_names() -> list[str]:
    fields = ["wall_ms_p50", "jobs", "stages", "tasks", "run_ms", "cpu_ms",
              "shuffle_bytes", "spill_bytes"]
    names = [f"{layer}.{f}" for layer in SPARK_LAYERS for f in fields]
    names += ["session.get_spark_s", "parser.parse_us_p50"]
    names += [f"build.stage.{s}_s" for s in BUILD_STAGES]
    names += [f"tables.{when}.{t}_bytes" for when in ("build", "compact") for t in TABLES]
    names += ["tables.generations", "tables.manifest_commits"]
    names += [f"entry.{leaf}.{f}" for leaf in CURATE_LEAVES
              for f in ("wall_ms", "jobs", "shuffle_bytes")]
    names += ["entry.persisted_rdds_max", "host.steal_s"]
    names += [f"trace.{m}" for m in END_TO_END]
    return names


def start_spark(tmp_dir: str):
    from joie_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=SPARK_MASTER, shuffle_partitions=SHUFFLE_PARTITIONS,
        extra={"spark.driver.memory": DRIVER_MEMORY,
               "spark.ui.showConsoleProgress": "false",
               "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir}"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


class Outcome:
    """Counts operations and wrong answers; collects metrics."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict[str, object] = {}
        self.phases: dict[str, float] = {}  # wall seconds per phase of the run
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the phase that ran since the previous mark."""
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._mark
        self._mark = now

    def check(self, ok: bool, what: str) -> None:
        """Count one failed operation unless `ok`."""
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)


# --- serve ------------------------------------------------------------------


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


def _table_bytes(ix: str) -> dict[str, int]:
    return {t: _dir_bytes(os.path.join(ix, t)) for t in TABLES}


def _generations(ix: str) -> int:
    gens = set()
    for t in TABLES:
        for root, dirs, _files in os.walk(os.path.join(ix, t)):
            gens.update(d for d in dirs if d.startswith("gen="))
    return len(gens)


def _manifest(ix: str) -> list[dict]:
    with open(os.path.join(ix, "_manifest.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def _parse_us_p50(queries: list[str]) -> float:
    """Python-side cost of Engine.search's routing step: parse_query plus
    tokenize_terms of every literal, median over the queries (µs)."""
    from joie_spark.plans.parser import literals, parse_query
    from joie_spark.tokenizer import tokenize_terms

    per_query = []
    for q in queries:
        reps = 50
        t0 = time.perf_counter()
        for _ in range(reps):
            for lit in literals(parse_query(q)):
                tokenize_terms(lit)
        per_query.append((time.perf_counter() - t0) / reps * 1e6)
    return statistics.median(per_query)


def _hits(rows, conv_of: dict[int, str]) -> list[tuple[str, int, float]]:
    return [(conv_of.get(r["doc_id"], "?"), r["turn_idx"], r["score"]) for r in rows]


def _by_query(rows, n: int, conv_of) -> list[list[tuple[str, int, float]]]:
    out: list[list] = [[] for _ in range(n)]
    for r in rows:
        out[r["query_id"]].append((conv_of.get(r["doc_id"], "?"), r["turn_idx"], r["score"]))
    return out


def _oracle_parts(oracle, query: str, conv_id: str, turn_idx: int) -> list:
    """Snippet parts the oracle highlighters give for one hit: every
    literal of the query highlighted as a phrase, overlaps merged."""
    from joie_spark.oracle import collapse_ranges, highlight_parts, highlight_phrase
    from joie_spark.plans.parser import literals, parse_query

    turn = oracle.turns[(oracle.doc_of_conv[conv_id], turn_idx)]
    ranges = sorted(
        (r for lit in literals(parse_query(query))
         for r in highlight_phrase(turn, oracle.query_term_ids(lit))),
        key=lambda r: r[0])
    return highlight_parts(turn.text, collapse_ranges(ranges))


def run_serve(spark, seed: int, seconds: float, trace: bool, work: str,
              process_t0: float, peak: PeakRss, out: Outcome) -> None:
    import pyarrow.parquet as pq

    import inputs
    from joie_spark import Engine
    from joie_spark.corpus import to_arrow
    from joie_spark.oracle import OracleIndex

    tr = LayerTrace(spark, enabled=trace)
    corpus = inputs.serve_corpus(seed)
    base_path = os.path.join(work, "base.parquet")
    delta_path = os.path.join(work, "delta.parquet")
    pq.write_table(to_arrow(corpus["base"]), base_path)
    pq.write_table(to_arrow(corpus["delta"]), delta_path)
    ix = os.path.join(work, "ix")
    out.phase("inputs")

    with tr.call("build"):
        eng = Engine.build(spark, base_path, ix, n_buckets=2, docs_per_block=64,
                           block_chunks=1)
    built = _table_bytes(ix)
    stage_s = {e["stage"]: e.get("seconds", 0.0) for e in _manifest(ix)}
    with tr.call("append"):
        eng.append(delta_path)
    with tr.call("delete"):
        eng.delete(corpus["deleted"])
    with tr.call("compact"):
        eng.compact()
    out.attempted += 4
    compacted = _table_bytes(ix)
    peak.sample()
    out.phase("maintain")

    conv_of = {r["doc_id"]: r["conv_id"]
               for r in eng.index.doc_meta.select("doc_id", "conv_id").collect()}
    q = inputs.serve_queries(seed, corpus["survivors"])
    singles, batch = q["singles"], q["batch"]

    # every call's answer, checked after the window: (query, hits) for a
    # single, (None, per-query hits) for search_many, and (None, per-query
    # hits, snippet parts per hit) for search_many_highlighted
    calls: list[tuple] = []

    def one_round(tracer: LayerTrace, singles=singles, plain_batch=True) -> None:
        for layer, query in singles:
            with tracer.call(layer):
                rows = eng.search(query, k=10).collect()
            calls.append((query, _hits(rows, conv_of)))
        if plain_batch:
            with tracer.call("batch.many"):
                rows = eng.search_many(batch, k=10).collect()
            calls.append((None, _by_query(rows, len(batch), conv_of)))
        with tracer.call("batch.many.highlighted"):
            rows = eng.search_many_highlighted(batch, k=10).collect()
        parts = [(r["query_id"], conv_of.get(r["doc_id"]), r["turn_idx"],
                  [(p["kind"], p["text"]) for p in r["parts"]]) for r in rows]
        calls.append((None, _by_query(rows, len(batch), conv_of), parts))
        out.attempted += len(singles) + 1 + plain_batch

    # warm-up: every route of the mix once (one single per route, and the
    # highlighted batch, whose plan contains the plain search_many plan)
    one_round(LayerTrace(spark, enabled=False), singles[:3], plain_batch=False)
    peak.sample()
    out.phase("warmup")

    t_window, cpu_window = time.perf_counter(), tree_cpu_s()
    setup_s = time.time() - process_t0
    rounds = 0
    while rounds == 0 or time.perf_counter() - t_window < seconds:
        one_round(tr)
        rounds += 1
        peak.sample()
    window_s = time.perf_counter() - t_window
    window_cpu_s = tree_cpu_s() - cpu_window
    out.phase("window")

    # --- answers, outside the timed window ---------------------------------
    oracle = OracleIndex(corpus["survivors"])
    want = {query: [(oracle.turns[(d, t)].conv_id, t, s)
                    for d, t, s in oracle.search(query, k=10)]
            for query in [qq for _l, qq in singles] + batch}
    hit_share = sum(bool(w) for w in want.values()) / len(want)
    if hit_share < 0.9:
        raise RuntimeError(f"serve inputs: only {hit_share:.0%} of the queries match")
    want_batch = [want[b] for b in batch]
    want_parts: dict = {}
    for query, hits, *parts in calls:
        if query is not None:
            out.check(hits == want[query], f"search {query!r}")
            continue
        ok = hits == want_batch
        # hits agree with the oracle, so every hit below exists there too
        for qid, conv_id, turn_idx, got in (parts[0] if parts and ok else ()):
            key = (qid, conv_id, turn_idx)
            if key not in want_parts:
                want_parts[key] = _oracle_parts(oracle, batch[qid], conv_id, turn_idx)
            ok = ok and got == want_parts[key]
        out.check(ok, "search_many_highlighted" if parts else "search_many")

    single_walls = [dt for layer, _g, dt in tr.calls if layer in
                    ("wand", "batch.single", "query.phrase")]
    n_queries = rounds * (len(singles) + 2 * len(batch))
    out.e2e = {
        "setup_s": setup_s,
        "throughput_per_s": n_queries / window_s,
        "cpu_ms_per_item": window_cpu_s * 1e3 / n_queries,
    }

    layers = tr.layer_metrics(SPARK_LAYERS + ["batch.many.highlighted"])
    subtract_layer(layers, "batch.many.highlighted", "batch.many", "highlight")
    for s in BUILD_STAGES:
        layers[f"build.stage.{s}_s"] = float(stage_s.get(s, 0.0))
    for t in TABLES:
        layers[f"tables.build.{t}_bytes"] = float(built[t])
        layers[f"tables.compact.{t}_bytes"] = float(compacted[t])
    layers["tables.generations"] = float(_generations(ix))
    layers["tables.manifest_commits"] = float(len(_manifest(ix)))
    layers["parser.parse_us_p50"] = _parse_us_p50([qq for _l, qq in singles] + batch)
    out.layers = layers
    out.phase("check")

    input_bytes = sum(len(r["text"].encode()) for r in corpus["base"])

    def qps(layer: str) -> float:
        return len(batch) / statistics.median(tr.walls(layer))

    out.detail = {
        "search_p50_ms": statistics.median(single_walls) * 1e3,
        "single_searches": len(single_walls),
        "rounds": rounds,
        "route_p50_ms": {layer: statistics.median(tr.walls(layer)) * 1e3
                         for layer in ("wand", "batch.single", "query.phrase")},
        "batch_qps": qps("batch.many"),
        "highlight_qps": qps("batch.many.highlighted"),
        "build_turns_per_s": len(corpus["base"]) / tr.walls("build")[0],
        "append_turns_per_s": len(corpus["delta"]) / tr.walls("append")[0],
        "delete_convs_per_s": len(corpus["deleted"]) / tr.walls("delete")[0],
        "compact_s": tr.walls("compact")[0],
        "index_bytes_per_input_byte": sum(built.values()) / input_bytes,
        "hit_share": hit_share,
        "turns": {"base": len(corpus["base"]), "appended": len(corpus["delta"]),
                  "live": len(corpus["survivors"])},
    }


# --- curate -----------------------------------------------------------------


def _release(df) -> None:
    handle = getattr(df, "_joie_persisted", None)
    if handle is not None:
        handle.unpersist()


def _compare_with_duckdb(con, sql: str, rows) -> str | None:
    """scripts/check_correctness.py's comparison: column names, row count
    and sorted values."""
    cur = con.execute(sql)
    ocols_raw = [d[0] for d in cur.description]
    orows_raw = cur.fetchall()
    cols = sorted(rows[0].__fields__) if rows else sorted(ocols_raw)
    srows = sorted(tuple(r[c] for c in cols) for r in rows)
    ocols = sorted(ocols_raw)
    perm = [ocols_raw.index(c) for c in ocols]
    orows = sorted(tuple(r[i] for i in perm) for r in orows_raw)
    if rows and cols != ocols:
        return f"columns {cols} != {ocols}"
    if len(srows) != len(orows):
        return f"rows {len(srows)} != {len(orows)}"
    if srows != orows:
        return "values differ"
    return None


def run_curate(spark, seed: int, seconds: float, trace: bool, work: str,
               process_t0: float, peak: PeakRss, out: Outcome) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    import inputs

    docs = inputs.curate_documents(seed)
    sf_dir = os.path.join(work, "sf")
    os.makedirs(sf_dir)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    doc_path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(pa.Table.from_pylist(docs, schema=schema), doc_path)
    qmap, omap = entry.queries(), entry.oracle_sql()
    jsc = spark.sparkContext._jsc
    out.phase("inputs")
    persisted_max = 0

    passes: list[dict] = []

    def one_pass(tracer: LayerTrace) -> None:
        nonlocal persisted_max
        results = {}
        for leaf in CURATE_LEAVES:
            with tracer.call(f"entry.{leaf}"):
                df = qmap[leaf](spark, sf_dir)
                results[leaf] = df.collect()
            _release(df)
            persisted_max = max(persisted_max, jsc.getPersistentRDDs().size())
            # a cache a leaf leaves behind would serve the next pass
            spark.catalog.clearCache()
            out.attempted += 1
        passes.append(results)

    for _ in range(WARMUP_PASSES):
        one_pass(LayerTrace(spark, enabled=False))
    peak.sample()
    out.phase("warmup")

    tr = LayerTrace(spark, enabled=trace)
    t_window, cpu_window = time.perf_counter(), tree_cpu_s()
    setup_s = time.time() - process_t0
    pass_walls = []
    while not pass_walls or time.perf_counter() - t_window < seconds:
        t0 = time.perf_counter()
        one_pass(tr)
        pass_walls.append(time.perf_counter() - t0)
        peak.sample()
    window_s = time.perf_counter() - t_window
    window_cpu_s = tree_cpu_s() - cpu_window
    out.phase("window")

    # --- answers, outside the timed window ---------------------------------
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{doc_path}'")
    planted = inputs.exact_duplicate_pairs(docs)
    for leaf in CURATE_LEAVES:
        want = None if leaf in ROWS_ONLY_LEAVES else omap[leaf]
        for i, results in enumerate(passes):
            rows = results[leaf]
            if want is None:
                found = {(min(r["a"], r["b"]), max(r["a"], r["b"])) for r in rows
                         if r["jaccard"] == 1.0}
                problem = f"{len(planted - found)} planted pairs missed" if planted - found else None
            else:
                problem = _compare_with_duckdb(con, want, rows)
            out.check(problem is None and len(rows) > 0, f"{leaf} pass {i}: {problem}")
    con.close()

    out.e2e = {
        "setup_s": setup_s,
        "throughput_per_s": len(docs) * len(pass_walls) / window_s,
        "cpu_ms_per_item": window_cpu_s * 1e3 / (len(docs) * len(pass_walls)),
    }
    layers = tr.layer_metrics([f"entry.{leaf}" for leaf in CURATE_LEAVES])
    out.layers = {}
    for leaf in CURATE_LEAVES:
        out.layers[f"entry.{leaf}.wall_ms"] = layers[f"entry.{leaf}.wall_ms_p50"]
        out.layers[f"entry.{leaf}.jobs"] = layers[f"entry.{leaf}.jobs"]
        out.layers[f"entry.{leaf}.shuffle_bytes"] = layers[f"entry.{leaf}.shuffle_bytes"]
    out.layers["entry.persisted_rdds_max"] = float(persisted_max)
    out.phase("check")
    out.detail = {
        "curate_docs_per_s": len(docs) / statistics.median(pass_walls),
        "pass_p50_ms": statistics.median(pass_walls) * 1e3,
        "passes": len(pass_walls),
        "docs": len(docs),
        "leaf_rows": {leaf: len(passes[0][leaf]) for leaf in CURATE_LEAVES},
    }


WORKLOADS = {"serve": run_serve, "curate": run_curate}
