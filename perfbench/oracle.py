"""Exact BM25 reference over the generator's term counts.

Lucene BM25Similarity with exact document lengths (FIXTURES.md §4):

    idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d)  = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

k1 and b are read from the index's ``stats.json``; N, df and avgdl
come from the generator.  Ranking is score desc, then doc_id asc.
Boolean strings follow the classic BooleanQuery model the engine
documents: MUST clauses intersect and sum, SHOULD clauses add their
score to docs already matched (or union when there is no MUST), and
MUST_NOT removes docs.

An answer passes when every returned score is within ``TOL`` of the
oracle score at the same rank and of the oracle score of the returned
doc, the docs are distinct matches, and the length is right — so doc
ids must match exactly except among equal-score ties.
"""

from __future__ import annotations

import numpy as np

from gen import Corpus, Query

TOL = 1e-9


class Oracle:
    """``ext`` maps the corpus' dense doc ids to the ids the engine
    under test reports (identity for one index, shard-namespaced ids
    for a scatter over several)."""

    def __init__(self, c: Corpus, k1: float, b: float, ext: np.ndarray):
        self.c = c
        self.k1, self.b = float(k1), float(b)
        self.n = c.n_docs
        self.avgdl = float(c.dl.sum()) / self.n
        self.ext = ext
        self._inv = {int(e): i for i, e in enumerate(self.ext)}
        self._row_of = np.empty(self.n, dtype=np.int64)
        self._row_of[c.doc_id] = np.arange(self.n)
        self._memo: dict[tuple, object] = {}

    # --------------------------------------------------------- scoring

    def term_vec(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(match mask, score) over dense doc ids for one term."""
        mask = np.zeros(self.n, dtype=bool)
        score = np.zeros(self.n, dtype=np.float64)
        i = self.c.term_index.get(term)
        if i is None:
            return mask, score
        s, e = self.c.post_ptr[i], self.c.post_ptr[i + 1]
        docs, tf = self.c.post_doc[s:e], self.c.post_tf[s:e].astype(np.float64)
        df = float(e - s)
        idf = np.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
        dl = self.c.dl[docs].astype(np.float64)
        mask[docs] = True
        score[docs] = idf * (tf * (self.k1 + 1.0) / (
            tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl)))
        return mask, score

    def terms_vec(self, terms, mode: str = "or",
                  min_match: int | None = None):
        ts = sorted(set(terms))
        nt = np.zeros(self.n, dtype=np.int64)
        score = np.zeros(self.n, dtype=np.float64)
        for t in ts:
            m, s = self.term_vec(t)
            nt += m
            score += s
        need = len(ts) if mode == "and" else max(1, int(min_match or 1))
        return nt >= need, score

    def tree_vec(self, tree):
        if tree[0] == "t":
            return self.term_vec(tree[1])
        _, must, should, must_not = tree
        score = np.zeros(self.n, dtype=np.float64)
        if must:
            mask = np.ones(self.n, dtype=bool)
            for x in must:
                m, s = self.tree_vec(x)
                mask &= m
                score += s
            for x in should:
                m, s = self.tree_vec(x)
                score += np.where(m, s, 0.0)
        elif should:
            mask = np.zeros(self.n, dtype=bool)
            for x in should:
                m, s = self.tree_vec(x)
                mask |= m
                score += np.where(m, s, 0.0)
        else:
            mask = np.ones(self.n, dtype=bool)
            score[:] = 1.0
        for x in must_not:
            mask &= ~self.tree_vec(x)[0]
        return mask, np.where(mask, score, 0.0)

    def expected(self, q: Query):
        """(mask, score) of a query, memoized by its key."""
        key = q.key()
        hit = self._memo.get(key)
        if hit is None:
            if q.op == "lucene":
                hit = self.tree_vec(q.tree)
            else:
                hit = self.terms_vec(q.terms, q.mode, q.min_match)
            self._memo[key] = hit
        return hit

    # -------------------------------------------------------- checking

    def _ranked(self, mask, score):
        ids = np.nonzero(mask)[0]
        order = np.lexsort((self.ext[ids], -score[ids]))
        return ids[order]

    def check_hits(self, q: Query, hits: list[tuple[int, float]],
                   k: int, offset: int) -> str | None:
        """None when ``hits`` is a correct top-k page, else a reason."""
        mask, score = self.expected(q)
        ranked = self._ranked(mask, score)
        want = ranked[offset:offset + k]
        if len(hits) != len(want):
            return f"{len(hits)} hits, expected {len(want)}"
        inv = self._inv
        seen = set()
        for r, (doc, s) in enumerate(hits):
            i = inv.get(int(doc))
            if i is None or not mask[i]:
                return f"rank {r}: doc {doc} does not match"
            if doc in seen:
                return f"rank {r}: doc {doc} repeated"
            seen.add(doc)
            if abs(score[i] - s) > TOL or abs(score[want[r]] - s) > TOL:
                return (f"rank {r}: doc {doc} score {s!r}, oracle "
                        f"{score[i]!r} (rank score {score[want[r]]!r})")
        return None

    def check_count(self, q: Query, n: int) -> str | None:
        want = int(self.expected(q)[0].sum())
        return None if int(n) == want else f"count {n}, expected {want}"

    def check_search(self, q: Query, env: dict, fields: list[str]
                     ) -> str | None:
        hits_df = env["hits"]
        hits = list(zip(hits_df["doc_id"].astype(int).tolist(),
                        hits_df["score"].astype(float).tolist()))
        why = self.check_hits(q, hits, q.k, 0)
        if why:
            return why
        mask, score = self.expected(q)
        if int(env["num_found"]) != int(mask.sum()):
            return f"num_found {env['num_found']}, expected {int(mask.sum())}"
        if mask.any() and abs(float(env["max_score"]) - score[mask].max()) > TOL:
            return f"max_score {env['max_score']!r}"
        inv, row_of = self._inv, self._row_of
        for f in fields:
            col = getattr(self.c, f)
            for doc, v in zip(hits_df["doc_id"].tolist(), hits_df[f].tolist()):
                if col[int(row_of[inv[int(doc)]])] != v:
                    return f"doc {doc} field {f}={v!r}"
        return None

    def check(self, q: Query, answer, fields: list[str]) -> str | None:
        """Dispatch by operation; any exception while checking is a
        malformed answer."""
        try:
            if q.op == "count":
                return self.check_count(q, answer)
            if q.op == "search":
                return self.check_search(q, answer, fields)
            return self.check_hits(q, answer, q.k, q.offset)
        except (KeyError, TypeError, ValueError, IndexError) as e:
            return f"malformed answer: {e!r}"
