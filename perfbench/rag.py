"""rag-mixed: one closed-loop client alternating ingest batches and top-k
queries against the committed snapshot.

Writes: build_chunks -> embed_chunks -> DocumentStore.commit_batch. Reads:
search_documents(...).collect(). The store is preloaded during set-up and
every ingest batch re-crawls URLs already in it with changed content of the
same shape, so the store size, and with it query latency, does not drift
with position in the run. functions.chunking / embedding / vectors,
plans.rag and sources.docstore do the work; the frontier layers do none.
"""

from __future__ import annotations

import numpy as np

CHUNK_SIZE = 1000
PARA_CHARS = 600  # each paragraph becomes exactly one chunk at CHUNK_SIZE
CRAWL_TIME = "2026-01-01T00:00:00+00:00"
MATCH_COUNT = 5
N_SOURCES = 7
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


class Corpus:
    """Seeded documents: a header line and ``paras`` fixed-length paragraphs
    of words from a seeded vocabulary. Version ``v`` of document ``i`` has
    new words but the same shape."""

    def __init__(self, seed: int, n_docs: int, paras: int):
        rng = np.random.default_rng(seed)
        self.seed, self.n_docs, self.paras = seed, n_docs, paras
        self.tag = int(rng.integers(0, 10**6))
        lens = rng.integers(3, 10, size=4000)
        self.vocab = ["".join(rng.choice(_LETTERS, size=n)) for n in lens]

    def url(self, i: int) -> str:
        return f"https://docs{i % N_SOURCES}.s{self.tag}.example.com/guide/{i}"

    def _para(self, rng) -> str:
        words, size = [], 0
        while size < PARA_CHARS:
            w = self.vocab[int(rng.integers(len(self.vocab)))]
            words.append(w)
            size += len(w) + 1
        return (" ".join(words))[: PARA_CHARS - 1] + "."

    def doc(self, i: int, version: int) -> tuple[str, str]:
        rng = np.random.default_rng([self.seed, i, version])
        body = "\n\n".join(self._para(rng) for _ in range(self.paras))
        return self.url(i), f"# Guide {i} rev {version}\n\n{body}"

    def query(self, rng) -> str:
        return " ".join(self.vocab[int(j)] for j in rng.integers(len(self.vocab), size=4))


class OracleStore:
    """Pure-Python twin of the store: chunk_markdown + embed_text per chunk,
    keyed last-writer-wins on (url, chunk_number), brute-force cosine top-k
    with the engine's 4-dp rounding and (similarity desc, url, chunk_number)
    tiebreak."""

    def __init__(self):
        self.rows: dict[tuple[str, int], np.ndarray] = {}

    def upsert(self, docs: list[tuple[str, str]]) -> None:
        from mcp_crawl4ai_rag_spark.functions.chunking import chunk_markdown
        from mcp_crawl4ai_rag_spark.functions.embedding import embed_text

        for url, text in docs:
            for k, chunk in enumerate(chunk_markdown(text, CHUNK_SIZE)):
                self.rows[(url, k)] = embed_text(chunk)

    def topk(self, query: str) -> list[tuple[str, int, float]]:
        from mcp_crawl4ai_rag_spark.functions.embedding import embed_query

        keys = sorted(self.rows)
        mat = np.vstack([self.rows[k] for k in keys]).astype(np.float64)
        q = np.asarray(embed_query(query), dtype=np.float64)
        sims = np.round(mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q)), 4)
        ranked = sorted(range(len(keys)), key=lambda j: (-sims[j], keys[j]))
        return [(keys[j][0], keys[j][1], float(sims[j])) for j in ranked[:MATCH_COUNT]]


class RagMixed:
    throughput_kind = "ingest"

    def __init__(self, sess, seed: int, n_docs: int, paras: int, batch_docs: int):
        from mcp_crawl4ai_rag_spark.sources.docstore import DocumentStore

        self.sess = sess
        self.corpus = Corpus(seed, n_docs, paras)
        self.rng = np.random.default_rng([seed, 1])
        self.batch_docs = batch_docs
        self.version = 0
        self.store_dir = sess.run_dir / "store"
        self.ds = DocumentStore(sess.spark, str(self.store_dir))
        self.oracle = OracleStore()
        self.store = None
        self.work_units = batch_docs * paras  # chunks per ingest batch

    def _batch(self, ids) -> tuple[list, object]:
        docs = [self.corpus.doc(int(i), self.version) for i in ids]
        return docs, self.sess.spark.createDataFrame(docs, "url string, markdown string")

    def preload(self):
        """Set-up: commit every document once (the cold commit)."""
        return self.prepare("ingest", ids=range(self.corpus.n_docs))

    def prepare(self, kind: str, ids=None):
        """Untimed: the op's input (a batch DataFrame or a query string)."""
        if kind == "query":
            return self.corpus.query(self.rng)
        if ids is None:
            ids = self.rng.choice(self.corpus.n_docs, size=self.batch_docs, replace=False)
        self.version += 1
        return self._batch(ids)

    def op(self, kind: str, arg, tracer, span) -> dict:
        from mcp_crawl4ai_rag_spark import local_ckpt
        from mcp_crawl4ai_rag_spark.functions.embedding import embed_query
        from mcp_crawl4ai_rag_spark.plans.rag import build_chunks, embed_chunks, search_documents

        if kind == "query":
            if tracer is not None:
                with span("rag.embed_query"):
                    embed_query(arg)
            with span("rag.search"):
                rows = search_documents(self.store, arg, match_count=MATCH_COUNT).collect()
            return {"rows": [(r["url"], r["chunk_number"], r["similarity"]) for r in rows],
                    "query": arg}
        docs, batch = arg
        with span("chunking.build_chunks"):
            chunks = build_chunks(batch, chunk_size=CHUNK_SIZE, crawl_time=CRAWL_TIME)
            if tracer is not None:
                chunks = local_ckpt(chunks)
        with span("embedding.embed"):
            embedded = embed_chunks(chunks)
            if tracer is not None:
                embedded = local_ckpt(embedded)
        with span("docstore.commit"):
            snap = self.ds.commit_batch(embedded)
        return {"snapshot": snap, "docs": docs, "_frames": (chunks, embedded)}

    def check(self, kind: str, got: dict, plant_fault: bool = False) -> list[str]:
        """Untimed oracle check; also advances the oracle's store state."""
        if kind == "query":
            want = self.oracle.topk(got["query"])
            if plant_fault:
                want = want[::-1]
            errs = []
            if [(u, c) for u, c, _ in got["rows"]] != [(u, c) for u, c, _ in want]:
                errs.append(f"top-k keys: got {got['rows']} want {want}")
            elif any(abs(a[2] - b[2]) > 1e-4 for a, b in zip(got["rows"], want)):
                errs.append(f"top-k similarity: got {got['rows']} want {want}")
            return errs
        self.oracle.upsert(got["docs"])
        self.store = self.ds.read()
        n = got["snapshot"].count()
        want_n = len(self.oracle.rows) + (1 if plant_fault else 0)
        return [] if n == want_n else [f"store rows: got {n} want {want_n}"]

    def layer_facts(self, kind: str, got: dict, scan_rows: int | None) -> dict:
        from mcp_crawl4ai_rag_spark.config import EMBEDDING_DIM

        from .harness import dir_bytes

        rows = len(self.oracle.rows)
        if kind == "query":
            return {"rag.rows_scanned_per_query": scan_rows if scan_rows is not None else rows}
        gen_dir = self.store_dir / f"gen_{self.ds.current_gen()}"
        written = dir_bytes(gen_dir)
        batch_bytes = sum(len(u.encode()) + len(t.encode()) for u, t in got["docs"]) \
            + 4 * EMBEDDING_DIM * len(got["docs"]) * self.corpus.paras
        return {"docstore.write_amp": written / batch_bytes, "store.rows": rows,
                "store.mb": written / 2**20}
