"""The two workloads: what one pass calls, and how its output is checked.

Each pass calls the engine's public functions only. Checks run outside
every timed region: ``index_build`` byte-compares every pass's letter
files with DuckDB's rendering; ``dedup_pipeline`` collects both
operators' outputs in the last untimed settle pass and, after the timed
passes, compares them with the registry's DuckDB oracles.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import os
import string

from inputs import FULL, REPO_ROOT, Sizes, land_dedup_corpus, land_index_corpus


class Workload:
    name = ""

    def __init__(self, run_dir: str, seed: int, sizes: Sizes = FULL):
        self.run_dir = run_dir
        self.seed = seed
        self.sizes = sizes
        self.facts: dict = {}

    def land(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark, run_op, capture: bool = False) -> None:
        """Run one pass; ``run_op(name, fn)`` times and guards each op.
        ``capture`` marks the untimed pass whose output ``verify``
        checks, when the workload checks one pass rather than all."""
        raise NotImplementedError

    def check_pass(self) -> None:
        """Called right after each pass, outside its timing."""

    def verify(self) -> int:
        """Once per run, after the timed passes: ops whose output is wrong."""
        raise NotImplementedError


# ----------------------------------------------------------- index_build


def expected_letter_digests(docs: list[tuple[int, str]]) -> dict[str, str]:
    """sha256 of each of the 26 ``word:[ids]`` letter files, rendered by
    DuckDB with the tokenization of the ``reference_corpus_index``
    oracle (split on space/tab/newline, keep ASCII letters, lowercase),
    rows ordered df DESC then word ASC."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    try:
        con.register(
            "docs",
            pa.table({"doc_id": [d for d, _ in docs], "text": [t for _, t in docs]}),
        )
        rows = con.sql(
            r"""
            WITH tok AS (
                SELECT doc_id, unnest(string_split_regex(text, '[ \t\n]+')) AS tok FROM docs
            ),
            w_raw AS (
                SELECT DISTINCT lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS word, doc_id
                FROM tok
            )
            SELECT substr(word, 1, 1) AS letter,
                   word || ':[' || array_to_string(list(doc_id ORDER BY doc_id), ' ') || ']' AS line
            FROM w_raw WHERE length(word) > 0
            GROUP BY word
            ORDER BY letter, count(*) DESC, word
            """
        ).fetchall()
    finally:
        con.close()
    digests = {c: hashlib.sha256() for c in string.ascii_lowercase}
    for letter, line in rows:
        digests[letter].update(line.encode("utf-8") + b"\n")
    return {c: h.hexdigest() for c, h in digests.items()}


def letter_digests(out_dir: str) -> dict[str, str]:
    """sha256 of each letter's ``letter=x/part-*`` files concatenated in
    name order (the sink's part names carry the row order)."""
    out = {}
    for c in string.ascii_lowercase:
        h = hashlib.sha256()
        for f in sorted(glob.glob(os.path.join(out_dir, f"letter={c}", "part-*"))):
            with open(f, "rb") as fh:
                h.update(fh.read())
        out[c] = h.hexdigest()
    return out


class IndexBuild(Workload):
    """The paper's job: manifest -> tokenize -> distinct (word, doc) ->
    postings -> 26 ordered letter files, on the scale-out path."""

    name = "index_build"

    def land(self) -> None:
        from parallel_map_reduce_spark.operators.inverted_index import SMALL_CORPUS_BYTES

        info = land_index_corpus(self.run_dir, self.seed, self.sizes)
        self.manifest = info["manifest"]
        self.out_dir = os.path.join(self.run_dir, "letters")
        self.pass_digests: list[dict[str, str] | None] = []
        self.facts = {
            "input_files": info["files"],
            "input_bytes": info["bytes"],
            "gates": {
                "SMALL_CORPUS_BYTES": {
                    "cap": SMALL_CORPUS_BYTES,
                    "size": info["bytes"],
                    "side": "above" if info["bytes"] > SMALL_CORPUS_BYTES else "at_or_below",
                }
            },
        }
        self.input_mb = info["bytes"] / 1e6

    def run_pass(self, spark, run_op, capture: bool = False) -> None:
        from parallel_map_reduce_spark.operators.inverted_index import (
            index_order_partitions,
            inverted_index,
        )
        from parallel_map_reduce_spark.sinks.text_sink import write_letter_files
        from parallel_map_reduce_spark.sources.text_manifest import (
            manifest_total_bytes,
            read_manifest_documents,
        )

        def index(layer):
            docs = layer("sources.read_manifest_documents", read_manifest_documents, spark, self.manifest)
            idx = layer("operators.inverted_index", inverted_index, docs)
            hint = index_order_partitions(manifest_total_bytes(self.manifest))
            layer(
                "sinks.write_letter_files",
                write_letter_files,
                idx,
                self.out_dir,
                single_file=False,
                order_partitions=hint,
            )

        run_op("index", index)

    def check_pass(self) -> None:
        self.pass_digests.append(letter_digests(self.out_dir) if os.path.isdir(self.out_dir) else None)

    def expected(self) -> dict[str, str]:
        with open(self.manifest, encoding="utf-8") as fh:
            rel = fh.read().split("\n")[1:]
        docs = []
        for i, r in enumerate(p for p in rel if p):
            with open(os.path.join(self.run_dir, r), encoding="utf-8") as fh:
                docs.append((i + 1, fh.read()))
        return expected_letter_digests(docs)

    def verify(self) -> int:
        """Every pass's letter files against the expected rendering."""
        expected = self.expected()
        return sum(d != expected for d in self.pass_digests)


# -------------------------------------------------------- dedup_pipeline


def _value_hash():
    """``tools/parity.py:value_hash``: the repository's Spark-vs-DuckDB
    comparison (order-insensitive, columns by name)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(REPO_ROOT, "tools", "parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def _materialized(sql: str) -> str:
    """The oracle with its multi-referenced CTEs computed once. DuckDB
    inlines CTEs, so the recursive closure in ``dedup_clusters``
    recomputes the whole MinHash pipeline every iteration (10 s instead
    of 2.5 s here). Only the evaluation changes, never the rows; an
    oracle without these CTEs runs as written."""
    for cte in ("pairs", "shingles"):
        sql = sql.replace(f"\n{cte} AS (", f"\n{cte} AS MATERIALIZED (")
    return sql


class DedupPipeline(Workload):
    """Near-duplicate removal on 300-word documents: MinHash-LSH
    candidates -> connected components, then shingle Jaccard pairs."""

    name = "dedup_pipeline"
    threshold = 0.5

    def land(self) -> None:
        info = land_dedup_corpus(self.run_dir, self.seed, self.sizes)
        self.docs_dir = info["docs_dir"]
        self.captured: dict[str, tuple[list[tuple], list[str]]] = {}
        self.facts = {
            "input_files": info["files"],
            "input_docs": info["docs"],
            "input_bytes": info["bytes"],
        }
        self.input_mb = info["bytes"] / 1e6

    def run_pass(self, spark, run_op, capture: bool = False) -> None:
        from parallel_map_reduce_spark.operators.dedup import (
            connected_components,
            minhash_lsh_candidates,
            ngram_jaccard_pairs,
        )
        from parallel_map_reduce_spark.registry import release_pins

        def sink(op, df):
            if capture:
                self.captured[op] = ([tuple(r) for r in df.collect()], df.columns)
            else:
                df.write.format("noop").mode("overwrite").save()

        def clusters(layer):
            docs = layer("sources.read_parquet", spark.read.parquet, self.docs_dir)
            pairs = layer("operators.minhash_lsh_candidates", minhash_lsh_candidates, docs)
            cc = layer("operators.connected_components", connected_components, pairs)
            layer("sinks.noop", sink, "clusters", cc)
            layer.record_pinned()
            layer("registry.release_pins", release_pins)
            layer.record_leaked()

        def jaccard(layer):
            docs = layer("sources.read_parquet", spark.read.parquet, self.docs_dir)
            pairs = layer("operators.ngram_jaccard_pairs", ngram_jaccard_pairs, docs, threshold=self.threshold)
            layer("sinks.noop", sink, "jaccard", pairs)
            layer.record_pinned()
            layer("registry.release_pins", release_pins)
            layer.record_leaked()

        run_op("clusters", clusters)
        run_op("jaccard", jaccard)

    def verify(self) -> int:
        """Compare the captured outputs with the DuckDB oracles of the
        ``dedup_clusters`` and ``dedup_ngram_jaccard`` registry entries;
        a missing capture (its op raised) counts as wrong. Also records
        the candidate-pair count and the gate facts, from DuckDB, so the
        checked pass calls the operators exactly as the timed ones do."""
        import duckdb

        from parallel_map_reduce_spark.operators.dedup import (
            CC_LOCAL_EDGE_CAP,
            JACCARD_SHINGLE_DF_CAP,
        )
        from parallel_map_reduce_spark.queries.dedup import LSH_PAIRS_CTES, _SHINGLES_CTE
        from parallel_map_reduce_spark.registry import all_queries

        value_hash = _value_hash()
        specs = all_queries()
        con = duckdb.connect()
        try:
            con.sql(
                "CREATE VIEW documents AS SELECT doc_id, text FROM "
                f"read_parquet('{os.path.join(self.docs_dir, '*.parquet')}')"
            )
            wrong = 0
            for op, entry in (("clusters", "dedup_clusters"), ("jaccard", "dedup_ngram_jaccard")):
                if op not in self.captured:
                    wrong += 1
                    continue
                rows, cols = self.captured[op]
                rel = con.sql(_materialized(specs[entry].oracle))
                wrong += sorted(cols) != sorted(rel.columns) or value_hash(
                    rows, cols
                ) != value_hash(rel.fetchall(), rel.columns)
            hot = con.sql(
                f"WITH {_SHINGLES_CTE} SELECT count(*) FROM (SELECT shingle FROM shingles "
                f"GROUP BY shingle HAVING count(*) > {JACCARD_SHINGLE_DF_CAP})"
            ).fetchone()[0]
            n_candidates = con.sql(f"WITH {LSH_PAIRS_CTES} SELECT count(*) FROM lsh_pairs").fetchone()[0]
        finally:
            con.close()
        edges = 2 * n_candidates
        self.facts["counts"] = {
            "candidate_pairs": n_candidates,
            "jaccard_pairs": len(self.captured.get("jaccard", ([], []))[0]),
        }
        self.facts["gates"] = {
            "CC_LOCAL_EDGE_CAP": {
                "cap_edges": 2 * CC_LOCAL_EDGE_CAP,
                "size_edges": edges,
                "side": "below" if edges <= 2 * CC_LOCAL_EDGE_CAP else "above",
            },
            "JACCARD_SHINGLE_DF_CAP": {"cap": JACCARD_SHINGLE_DF_CAP, "hot_set_shingles": hot},
        }
        return wrong


WORKLOADS = {w.name: w for w in (IndexBuild, DedupPipeline)}
