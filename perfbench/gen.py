"""Seeded input generator: a code-like corpus with known per-doc term
counts, and query mixes drawn by document-frequency band.

The benchmark owns this generator, so an edit to the program's own
corpus helpers cannot change the workload.  The program only ever
sees the generated rows and query arguments.

Corpus rules (FIXTURES.md §1 shape):

- a Zipfian identifier vocabulary of camelCase, snake_case and plain
  identifiers, so hot, mid and rare terms all exist;
- the hot keywords ``import`` (~60% of docs) and ``return`` (~70%),
  plus ``def``/``class``/``public``/``func`` from the mixture;
- one needle token ``xylophoneQuarkNebula<n>`` in every 97th doc;
- doc lengths spread log-normally over two orders of magnitude;
- one-letter names, short numbers and ``__dunder__`` names, which the
  tokenizer contract (FIXTURES.md §3) drops or splits.

Every surface form is built from parts whose analyzed tokens are
known here, so the generator records the exact token multiset of
every doc without calling the program's tokenizer.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

HOT_KEYWORDS = ["def", "class", "public", "func"]
LANGS = ["python", "java", "go", "js", "rust", "c"]
LANG_P = [0.3, 0.2, 0.15, 0.15, 0.1, 0.1]
EXT = {"python": "py", "java": "java", "go": "go", "js": "js",
       "rust": "rs", "c": "c"}
NEEDLE_EVERY = 97
# words the query-string parser reads as operators, and the parts of
# the needle identifier, never appear as generated parts
_RESERVED = {"and", "or", "not", "to", "import", "return", "def",
             "class", "public", "func", "xylophone", "quark"}
_ONSETS1 = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r",
            "s", "t", "v", "w", "z"]
_ONSETS2 = ["br", "cl", "dr", "gr", "pl", "st", "tr", "sh", "ch"]
_VOWELS1 = ["a", "e", "i", "o", "u"]
_VOWELS2 = ["ai", "ou", "ea"]
_CODAS = ["", "", "", "n", "r", "l", "s", "t", "x", "ck", "ng"]
_SEPS = np.array([" ", "(", ", ", ") ", ".", " = ", " + ", "[", "]\n    ",
                  ":\n    ", "\n    ", "\n"], dtype=object)
_SEP_P = np.array([0.22, 0.12, 0.14, 0.06, 0.1, 0.08, 0.03, 0.03, 0.04,
                   0.04, 0.1, 0.04])


@dataclass
class Corpus:
    """Generated rows plus the exact analyzed term counts.

    ``doc_id`` is the engine's dense id: rank over (repo, path,
    commit) in byte order.  Posting arrays are grouped by term id and
    hold dense doc ids."""

    repo: list[str]
    path: list[str]
    commit: list[str]
    lang: list[str]
    content: list[str]
    doc_id: np.ndarray          # per generated row
    terms: list[str]            # term id -> term
    term_index: dict[str, int]
    dl: np.ndarray              # per dense doc id
    post_ptr: np.ndarray        # CSR over term ids
    post_doc: np.ndarray        # dense doc ids
    post_tf: np.ndarray

    @property
    def n_docs(self) -> int:
        return len(self.content)

    def df(self) -> np.ndarray:
        return np.diff(self.post_ptr)

    def content_bytes(self) -> int:
        return sum(len(c.encode()) for c in self.content)

    def subset(self, rows: np.ndarray) -> "Corpus":
        """Rows ``rows`` as their own corpus (a shard): dense ids are
        re-ranked within the subset; term ids are kept."""
        rows = np.sort(np.asarray(rows, dtype=np.int64))
        pick = [self.repo, self.path, self.commit, self.lang, self.content]
        cols = [[c[i] for i in rows] for c in pick]
        local = _dense_ids(cols[0], cols[1], cols[2])
        old = self.doc_id[rows]
        remap = np.full(self.n_docs, -1, dtype=np.int64)
        remap[old] = local
        keep = remap[self.post_doc] >= 0
        term_of = np.repeat(np.arange(len(self.terms)), np.diff(self.post_ptr))
        t, d, f = term_of[keep], remap[self.post_doc[keep]], self.post_tf[keep]
        order = np.lexsort((d, t))
        ptr = np.zeros(len(self.terms) + 1, dtype=np.int64)
        np.add.at(ptr, t + 1, 1)
        dl = np.zeros(len(rows), dtype=np.int64)
        dl[local] = self.dl[old]
        return Corpus(*cols, doc_id=local, terms=self.terms,
                      term_index=self.term_index, dl=dl,
                      post_ptr=np.cumsum(ptr), post_doc=d[order],
                      post_tf=f[order])


def _dense_ids(repo, path, commit) -> np.ndarray:
    keys = sorted(range(len(repo)),
                  key=lambda i: (repo[i].encode(), path[i].encode(),
                                 commit[i].encode()))
    ids = np.empty(len(repo), dtype=np.int64)
    ids[np.asarray(keys, dtype=np.int64)] = np.arange(len(repo))
    return ids


def _zipf_p(n: int, s: float, q: float = 2.0) -> np.ndarray:
    w = 1.0 / np.power(np.arange(n) + q, s)
    return w / w.sum()


def _parts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pseudo-words.  The shape of the word at each
    Zipf rank (syllables, cluster onsets, diphthongs, coda) is fixed
    and only its letters are drawn, so byte and token mass per rank
    are the same for every seed."""
    out: list[str] = []
    seen = set(_RESERVED)
    for j in range(n):
        while True:
            w = ""
            for s in range(2 + j % 2):
                on = _ONSETS2 if (j + s) % 3 == 0 else _ONSETS1
                vo = _VOWELS2 if (j + s) % 2 == 0 else _VOWELS1
                w += on[int(rng.integers(len(on)))] + vo[int(rng.integers(len(vo)))]
            w += _CODAS[j % len(_CODAS)]
            if w not in seen:
                seen.add(w)
                out.append(w)
                break
    return out


class _Vocab:
    """Surface forms with their analyzed tokens, as CSR over term ids."""

    def __init__(self) -> None:
        self.surface: list[str] = []
        self.toks: list[list[int]] = []
        self.terms: list[str] = []
        self.term_index: dict[str, int] = {}

    def term(self, t: str) -> int:
        i = self.term_index.get(t)
        if i is None:
            i = self.term_index[t] = len(self.terms)
            self.terms.append(t)
        return i

    def add(self, surface: str, tokens: list[str]) -> int:
        self.surface.append(surface)
        self.toks.append([self.term(t) for t in tokens])
        return len(self.surface) - 1

    def csr(self) -> tuple[np.ndarray, np.ndarray]:
        lens = np.fromiter((len(t) for t in self.toks), dtype=np.int64,
                           count=len(self.toks))
        ptr = np.concatenate(([0], np.cumsum(lens)))
        flat = np.fromiter((x for t in self.toks for x in t),
                           dtype=np.int64, count=int(ptr[-1]))
        return ptr, flat


def _identifier(parts: list[str], style: str) -> tuple[str, list[str]]:
    """Surface form and analyzed tokens (FIXTURES.md §3): the parts,
    plus the lowercase compound when there is more than one part."""
    if len(parts) == 1:
        return parts[0], [parts[0]]
    if style == "camel":
        s = parts[0] + "".join(p.capitalize() for p in parts[1:])
    else:
        s = "_".join(parts)
    return s, list(parts) + [s.lower()]


def make_corpus(seed: int, n_docs: int, mean_len: int = 30,
                n_ident: int = 3000) -> Corpus:
    rng = np.random.default_rng(seed)
    voc = _Vocab()
    kw = {k: voc.add(k, [k]) for k in ["import", "return"] + HOT_KEYWORDS}
    small = [voc.add(c, []) for c in "ixnkv"]           # dropped (< 2)
    nums = [voc.add(str(v), [str(v)] if v >= 10 else [])
            for v in range(0, 400, 7)]
    dunder = [voc.add(f"__{w}__", [w]) for w in ("init", "name", "main")]
    parts = _parts(rng, n_ident // 2)
    part_p = _zipf_p(len(parts), 0.9)
    # identifier at Zipf rank r: its part count and style are fixed by
    # r (35% one part, 45% two, 20% three; 60% camelCase), its parts
    # are drawn Zipfian from the part vocabulary
    shape_k = [1, 2, 2, 3, 1, 2, 1, 2, 3, 2, 1, 2, 2, 1, 3, 2, 1, 2, 3, 1]
    idents: list[int] = []
    seen: set[str] = set()
    for r in range(n_ident):
        k = shape_k[r % len(shape_k)]
        for attempt in range(1000):
            # Zipfian parts; uniform once the popular ones are taken
            ps = [parts[int(x)] for x in (
                rng.choice(len(parts), size=k, p=part_p) if attempt < 20
                else rng.integers(0, len(parts), k))]
            surface, toks = _identifier(ps, "camel" if r % 5 < 3
                                        else "snake")
            if surface not in seen:
                break
        seen.add(surface)
        idents.append(voc.add(surface, toks))
    idents_a = np.asarray(idents)
    ident_p = _zipf_p(n_ident, 1.05, q=8.0)

    # doc lengths (entries per doc): log-normal spread, clipped
    lens = np.clip(rng.lognormal(np.log(mean_len), 0.8, n_docs), 4,
                   20 * mean_len).astype(np.int64)
    total = int(lens.sum())
    kind = rng.choice(4, size=total, p=[0.1, 0.04, 0.04, 0.82])
    ent = idents_a[rng.choice(n_ident, size=total, p=ident_p)]
    kw_ids = np.asarray([kw[k] for k in HOT_KEYWORDS])
    ent[kind == 0] = kw_ids[rng.integers(0, len(kw_ids), int((kind == 0).sum()))]
    misc = np.asarray(small + nums + dunder)
    ent[kind == 1] = misc[rng.integers(0, len(misc), int((kind == 1).sum()))]
    ent[kind == 2] = np.asarray(nums)[rng.integers(0, len(nums),
                                                   int((kind == 2).sum()))]
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    # hot-term skew: `import` opens ~60% of docs, `return` sits in ~70%
    has_imp = rng.random(n_docs) < 0.6
    has_ret = rng.random(n_docs) < 0.7
    ent[starts[has_imp]] = kw["import"]
    ret_at = starts + np.maximum(lens - 2, 1)
    ent[ret_at[has_ret]] = kw["return"]
    # needles: one unique identifier in every 97th doc
    needle_rows = np.arange(0, n_docs, NEEDLE_EVERY)
    for r in needle_rows:
        n = int(r) // NEEDLE_EVERY
        s, toks = _identifier(["xylophone", "quark", f"nebula{n}"], "camel")
        ent[starts[r] + 1] = voc.add(s, toks)

    doc_of = np.repeat(np.arange(n_docs), lens)
    seps = rng.choice(_SEPS, size=total, p=_SEP_P)
    surf = np.asarray(voc.surface, dtype=object)
    pieces = (surf[ent] + seps).tolist()
    content = ["".join(pieces[s:s + n]) for s, n in zip(starts.tolist(),
                                                         lens.tolist())]

    lang_ix = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    lang = [LANGS[i] for i in lang_ix]
    org = rng.integers(0, 7, n_docs)
    rep = rng.integers(0, 101, n_docs)
    pkg = rng.integers(0, 13, n_docs)
    repo = [f"org{a}/repo{b}" for a, b in zip(org.tolist(), rep.tolist())]
    path = [f"src/pkg{p}/Module{i}.{EXT[lg]}"
            for i, (p, lg) in enumerate(zip(pkg.tolist(), lang))]
    commit = [hashlib.sha1(f"{r}:{p}:{seed}".encode()).hexdigest()
              for r, p in zip(repo, path)]
    doc_id = _dense_ids(repo, path, commit)

    # exact analyzed term counts: expand every entry into its tokens
    ptr, flat = voc.csr()
    ntok = ptr[ent + 1] - ptr[ent]
    tok_doc = np.repeat(doc_id[doc_of], ntok)
    first = np.repeat(ptr[ent] - np.cumsum(ntok) + ntok, ntok)
    tok_term = flat[first + np.arange(int(ntok.sum()))]
    dl = np.bincount(tok_doc, minlength=n_docs).astype(np.int64)
    key = tok_term * np.int64(n_docs) + tok_doc
    uk, tf = np.unique(key, return_counts=True)
    t, d = uk // n_docs, uk % n_docs
    cnt = np.bincount(t, minlength=len(voc.terms))
    post_ptr = np.concatenate(([0], np.cumsum(cnt))).astype(np.int64)
    return Corpus(repo, path, commit, lang, content, doc_id,
                  voc.terms, voc.term_index, dl, post_ptr, d, tf)


# ------------------------------------------------------------- queries

@dataclass
class Query:
    """One operation of a workload.

    ``op``: ``topk`` | ``count`` | ``lucene`` | ``search``.  ``tree``
    is the boolean structure a ``lucene`` string was rendered from:
    ``("t", term)`` or ``("bool", must, should, must_not)``."""

    op: str
    cls: str
    terms: tuple[str, ...] = ()
    mode: str = "or"
    min_match: int | None = None
    k: int = 10
    offset: int = 0
    q: str = ""
    tree: tuple | None = None

    def key(self) -> tuple:
        return (self.op, self.terms, self.mode, self.min_match, self.k,
                self.offset, self.q)


def df_bands(c: Corpus) -> dict[str, list[str]]:
    """Query terms by df band.  Lucene-safe terms only: a bare term the
    query parser's analyzer keeps as one token (no ``_``)."""
    df = c.df()
    n = c.n_docs
    bands: dict[str, list[str]] = {"hot": [], "mid": [], "rare": [],
                                   "needle": []}
    for i, t in enumerate(c.terms):
        d = int(df[i])
        if d == 0 or "_" in t:
            continue
        if t.startswith("nebula"):
            bands["needle"].append(t)
        elif d >= 0.15 * n:
            bands["hot"].append(t)
        elif d >= 0.01 * n:
            bands["mid"].append(t)
        elif d >= 2:
            bands["rare"].append(t)
    for b in bands.values():
        b.sort()
    return bands


def tree_terms(tree: tuple) -> list[str]:
    if tree[0] == "t":
        return [tree[1]]
    return [t for part in tree[1:] for x in part for t in tree_terms(x)]


def _render(tree: tuple, top: bool = True) -> str:
    if tree[0] == "t":
        return tree[1]
    _, must, should, must_not = tree
    if not should and not must_not and len(must) == 2 and top:
        s = f"{_render(must[0], False)} AND {_render(must[1], False)}"
    elif not must and not must_not and len(should) == 2:
        s = f"{_render(should[0], False)} OR {_render(should[1], False)}"
    elif len(must) == 1 and not should and len(must_not) == 1:
        s = f"{_render(must[0], False)} AND NOT {_render(must_not[0], False)}"
    else:
        s = " ".join([f"+{_render(x, False)}" for x in must]
                     + [_render(x, False) for x in should]
                     + [f"-{_render(x, False)}" for x in must_not])
    return s if top else f"({s})"


class QueryGen:
    """Draws operations by class; each class names the df bands of its
    terms (``hot``/``mid``/``rare``/``needle`` single-term top-k,
    ``mixed`` bands, ``and``, ``min_match``, ``count``, nested
    ``lucene`` strings with NOT, ``search`` with stored fields).

    The class shares below are an assumption of the workload, not a
    measured traffic mix: no query log of this engine exists.  They
    give every class enough operations in a 6-second loop for its
    own median, and weight the Lucene-string and count front doors
    a little above each single top-k class."""

    SERVE_MIX = {"hot": 0.1, "mid": 0.1, "rare": 0.07, "needle": 0.06,
                 "mixed": 0.1, "and": 0.1, "min_match": 0.05,
                 "count": 0.14, "lucene": 0.18, "search": 0.1}
    SPARK_MIX = {"hot": 0.12, "mid": 0.12, "rare": 0.08, "needle": 0.06,
                 "and": 0.12, "min_match": 0.05, "count": 0.2,
                 "lucene": 0.25}

    def __init__(self, seed: int, c: Corpus, mix: dict[str, float]):
        self.rng = np.random.default_rng(seed + 7919)
        self._nth: dict[str, int] = {}
        self.bands = df_bands(c)
        self.classes = list(mix)
        p = np.asarray([mix[k] for k in self.classes])
        self.p = p / p.sum()

    def _t(self, band: str) -> str:
        """A term of ``band``; on a corpus too small to fill the band,
        a term of the nearest non-empty one."""
        order = ["hot", "mid", "rare", "needle"]
        i = order.index(band)
        for name in sorted(order, key=lambda x: abs(order.index(x) - i)):
            b = self.bands[name]
            if b:
                return b[int(self.rng.integers(len(b)))]
        raise ValueError("corpus has no query terms")

    def _any(self) -> str:
        return self._t(str(self.rng.choice(["hot", "mid", "mid", "rare"])))

    def _tree(self, depth: int) -> tuple:
        if depth == 0:
            return ("t", self._any())
        shape = int(self.rng.integers(5))
        sub = lambda: self._tree(depth - 1) if self.rng.random() < 0.4 \
            else ("t", self._any())
        if shape == 0:
            return ("bool", (), (sub(), sub()), ())
        if shape == 1:
            return ("bool", (sub(), sub()), (), ())
        if shape == 2:
            return ("bool", (sub(),), (), (sub(),))
        if shape == 3:
            return ("bool", (sub(), sub()), (sub(),), (sub(),))
        return ("bool", (sub(),), (sub(), sub()), ())

    def one(self, cls: str) -> Query:
        """The next operation of class ``cls``; its terms are pairwise
        distinct (the engine treats a term list as a set)."""
        i = self._nth.get(cls, 0)
        self._nth[cls] = i + 1
        while True:
            q = self._draw(cls, i)
            ts = list(q.terms) if q.tree is None else tree_terms(q.tree)
            if len(set(ts)) == len(ts):
                return q

    def _draw(self, cls: str, i: int) -> Query:
        """Arity, mode, offset and nesting depth cycle with ``i``, the
        operation's index within its class; only terms are random."""
        k = 10
        off = 10 if i % 10 == 9 else 0
        if cls in ("hot", "mid", "rare", "needle"):
            return Query("topk", cls, (self._t(cls),), k=k, offset=off)
        if cls == "mixed":
            return Query("topk", cls,
                         tuple(self._any() for _ in range(2 + i % 2)),
                         k=k, offset=off)
        if cls == "and":
            a = self._t(("hot", "mid")[i % 2])
            return Query("topk", cls, (a, self._t("mid")), mode="and", k=k,
                         offset=off)
        if cls == "min_match":
            return Query("topk", cls, (self._t("hot"), self._t("mid"),
                                       self._t("mid")), min_match=2, k=k)
        if cls == "count":
            return Query("count", cls,
                         tuple(self._any() for _ in range(1 + i % 3)),
                         mode=("or", "and")[i // 3 % 2])
        if cls == "search":
            return Query("search", cls,
                         tuple(self._any() for _ in range(1 + i % 2)),
                         mode=("or", "and")[i // 2 % 2], k=k)
        tree = self._tree(1 + i % 2)
        if tree[0] == "t" or not (tree[1] or tree[2]):
            tree = ("bool", (tree,), (("t", self._any()),), ())
        return Query("lucene", cls, k=k, offset=off, q=_render(tree),
                     tree=tree)

    def stream(self, n: int) -> list[Query]:
        """``n`` distinct operations.  Classes follow a fixed
        interleaving in proportion to the mix (smooth weighted
        round-robin), so the class composition is the same for every
        seed; only the terms are drawn.  No operation is re-sent, so a
        result cache sees no repeats, unless a class has fewer distinct
        operations than the stream asks of it (a tiny corpus)."""
        credit = dict.fromkeys(self.classes, 0.0)
        keys: set[tuple] = set()
        out: list[Query] = []
        for _ in range(n):
            for c, w in zip(self.classes, self.p):
                credit[c] += w
            cls = max(self.classes, key=credit.__getitem__)
            credit[cls] -= 1.0
            for _ in range(50):   # a small class may run out of new ones
                q = self.one(cls)
                if q.key() not in keys:
                    break
            keys.add(q.key())
            out.append(q)
        return out
