"""Seeded input generators: web-text pages, queries and change deltas.

Everything here is a pure function of the seed and plain Python/numpy data;
the engine only ever sees the rows, in the pages shape
``(url, warc_ts, html, text, lang, doc_id)`` (plus ``op``/``old_url`` for
deltas).  The mix is chosen to make each engine layer do real work:

- terms follow a Zipf law over a large synthetic vocabulary, so a few head
  terms land in most documents while a long tail has df <= 10;
- a share of the vocabulary carries non-ASCII Latin letters, and the
  English-like suffixes give the KStem stemmer something to strip;
- document lengths are log-normal and ``lang`` is a skewed categorical;
- a few percent of pages are legacy-charset encoded (cp1252, shift_jis,
  gb18030), ~1% are binary (a NUL byte in the first 8 KiB) and a handful
  exceed the 1 MiB content limit;
- docids are sparse (as after deletes in a crawl), so a modest corpus still
  spans many DOCS_PER_RANGE docid ranges.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 40_000
ZIPF_S = 1.05
DOCID_DENSITY = 0.1          # share of the docid space that holds a page
LEN_MU, LEN_SIGMA = 3.9, 0.6  # log-normal tokens per page (median ~49)
LEGACY_SHARE = 0.03
BINARY_SHARE = 0.01
N_OVERSIZE = 3
OVERSIZE_BYTES = (1 << 20) + 64 * 1024
LANGS = ["en", "de", "fr", "es", "ja", "zh", "ru", "pt", "it", "nl"]
LANG_P = [0.55, 0.12, 0.08, 0.06, 0.05, 0.04, 0.04, 0.03, 0.02, 0.01]

_SYLLABLES = (
    "ba be bi bo bu da de di do du fa fe fi fo ga ge go ha he hi ho ka ke ki "
    "ko ku la le li lo lu ma me mi mo mu na ne ni no nu pa pe pi po ra re ri "
    "ro ru sa se si so su ta te ti to tu va ve vi vo wa we wi ya yo ban ber "
    "dor fen gar hal kin lam mor nel par ros sen tal ven wor str tra pla"
).split()
_SUFFIXES = ["", "", "", "", "s", "es", "ed", "ing", "er", "ly", "ness", "ies",
             "ation", "ment", "ful"]
# cp1252-encodable, so legacy cp1252 pages can carry them
_ACCENTS = {"a": "àäå", "e": "éèê", "o": "öø", "u": "üú", "i": "ï", "n": "ñ",
            "c": "ç", "s": "ß"}
_KANA = [chr(c) for c in range(0x3041, 0x3094)] + [chr(c) for c in range(0x30A1, 0x30F7)]
_HAN = "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年得就那要下以生会自着去之过家学对可她里后小么心多天而能好都然没日于起还发成事只作当想看文无开手十用主行方又如前所本见经头面公同三已老从动两长知民样现分将外但身些与高意进把法此实回二理美点月明其种声全工己话儿者向情部正名定女问力机给等几很业最间新什打便位因重被走电四第门相次东政海口使教西再平真听世气信北少关并内加化由却代军产入先山五太水万市眼体别处总才场师书比住员九笑性通目华报立马命张活难神数件安表原车白应路期叫死常提感金何更反合放做系计或司利受光王果亲界及今京务制解各任至清物台象记边共风战干接它许八特觉望直服毛林题建南度统色字请交爱让认算论百吃义科怎元社术结六功指思非流每青管夫连远资队跟带花快条院变联言权往展该领传近留红治决周保达办运武半候七必城父强步完革深区即求品士转量空甚众技轻程告江语英基派满式李息写呢识极令黄德收脸钱党倒未持取设始版双历越史商千片容研像找友孩站广改议形委早房音火际则首单据导影失拿网香似斯专石若兵弟谁校读志飞观争究包组造落视济喜离虽坐集编宝谈府拉黑且随格尽剑讲布杀微怕母调局根曾准团段终乐切级克精哪官示冷域读"


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


def make_vocab(rng: np.random.Generator, n: int = VOCAB_SIZE) -> list[str]:
    """Distinct English-like surface words; ~8% carry a non-ASCII letter.
    Rank order is random, so head terms are not systematically short."""
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < n:
        k = int(rng.integers(1, 4))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        w += _SUFFIXES[int(rng.integers(0, len(_SUFFIXES)))]
        if rng.random() < 0.08:
            spots = [i for i, ch in enumerate(w) if ch in _ACCENTS]
            if spots:
                i = spots[int(rng.integers(0, len(spots)))]
                alts = _ACCENTS[w[i]]
                w = w[:i] + alts[int(rng.integers(0, len(alts)))] + w[i + 1:]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


@dataclass
class Corpus:
    """Column lists in the pages shape, plus what the checks need."""
    doc_id: list[int]
    url: list[str]
    warc_ts: list[dt.datetime]
    html: list[bytes]
    text: list[str | None]
    lang: list[str]
    kind: list[str]          # utf8 | cp1252 | shift_jis | gb18030 | binary | oversize
    vocab: list[str]
    df: np.ndarray           # surface-word df over the utf8/cp1252 pages
    next_doc_id: int

    def __len__(self) -> int:
        return len(self.doc_id)


_T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


class TextSource:
    """Draws page texts from the shared vocabulary and Zipf law."""

    def __init__(self, rng: np.random.Generator, vocab: list[str]):
        self.rng = rng
        self.vocab = vocab
        self.cdf = _zipf_cdf(len(vocab), ZIPF_S)
        self.accented = np.array([not w.isascii() for w in vocab])

    def ranks(self, n_tokens: int) -> np.ndarray:
        return np.minimum(
            np.searchsorted(self.cdf, self.rng.random(n_tokens)), len(self.vocab) - 1
        )

    def lengths(self, n: int) -> np.ndarray:
        return np.clip(np.rint(self.rng.lognormal(LEN_MU, LEN_SIGMA, n)), 3, 3000).astype(int)

    def render(self, ranks: np.ndarray) -> str:
        """Sentence-cased text with punctuation every ~12 words."""
        words = [self.vocab[r] for r in ranks]
        out = []
        for i, w in enumerate(words):
            if i % 12 == 0:
                w = w[:1].upper() + w[1:]
            out.append(w + ("." if i % 12 == 11 else ""))
        return " ".join(out) + "."

    def cjk(self, n_chars: int, alphabet: str | list[str]) -> str:
        idx = self.rng.integers(0, len(alphabet), n_chars)
        chars = [alphabet[i] for i in idx]
        for i in range(7, n_chars, 8):
            chars[i] = " "
        return "".join(chars)


def _url(doc_id: int, tag: str = "page") -> str:
    # one "site" per 2048 docids: a docid neighbourhood is one site's pages
    return f"https://site{doc_id // 2048}.example.org/{tag}/{doc_id}.html"


def make_corpus(seed: int, n_docs: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    vocab = make_vocab(np.random.default_rng([seed, 0]))
    src = TextSource(rng, vocab)
    span = int(n_docs / DOCID_DENSITY)
    doc_ids = np.sort(rng.choice(span, size=n_docs, replace=False)).astype(int)
    lens = src.lengths(n_docs)
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    u = rng.random(n_docs)
    kinds = np.where(u < BINARY_SHARE, "binary",
                     np.where(u < BINARY_SHARE + LEGACY_SHARE, "legacy", "utf8")).astype(object)
    legacy = np.flatnonzero(kinds == "legacy")
    kinds[legacy] = rng.choice(["cp1252", "shift_jis", "gb18030"], size=len(legacy))
    utf8_idx = np.flatnonzero(kinds == "utf8")
    kinds[rng.choice(utf8_idx, size=N_OVERSIZE, replace=False)] = "oversize"

    n_vocab = len(vocab)
    df = np.zeros(n_vocab, dtype=np.int64)
    html, text = [], []
    accented_ids = np.flatnonzero(src.accented)
    for i in range(n_docs):
        kind = kinds[i]
        if kind == "binary":
            n = int(rng.integers(512, 6000))
            blob = bytearray(rng.integers(1, 256, n, dtype=np.uint8).tobytes())
            blob[int(rng.integers(0, min(n, 8192)))] = 0
            html.append(bytes(blob))
            text.append(None)
            continue
        if kind == "shift_jis":
            t = src.cjk(int(lens[i]) * 2, _KANA)
        elif kind == "gb18030":
            t = src.cjk(int(lens[i]) * 2, _HAN)
        else:
            r = src.ranks(int(lens[i]))
            if kind == "cp1252":  # make sure the page is not plain ASCII
                r[:: 5] = rng.choice(accented_ids, size=len(r[:: 5]))
            df[np.unique(r)] += 1
            t = src.render(r)
            if kind == "oversize":
                t = (t + " ") * (OVERSIZE_BYTES // len(t.encode()) + 1)
        enc = "utf-8" if kind in ("utf8", "oversize") else kind
        html.append(t.encode(enc))
        text.append(t)
        langs[i] = {"shift_jis": 4, "gb18030": 5}.get(kind, langs[i])
    return Corpus(
        doc_id=doc_ids.tolist(),
        url=[_url(d) for d in doc_ids],
        warc_ts=[_T0 + dt.timedelta(seconds=int(d)) for d in doc_ids],
        html=html,
        text=text,
        lang=[LANGS[j] for j in langs],
        kind=list(kinds),
        vocab=vocab,
        df=df,
        next_doc_id=span,
    )


def planted_token(seed: int, n: int) -> str:
    """A letters-only token no vocabulary word or query can produce (no
    syllable contains 'z' or 'q'); the default analyzer keeps it whole."""
    letters = []
    n = n * 7919 + seed % 7919
    while True:
        n, r = divmod(n, 26)
        letters.append(chr(97 + r))
        if n == 0:
            break
    return "zq" + "".join(letters) + "x"


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------
@dataclass
class Query:
    text: str
    k: int
    lang: str | None   # doc_filter: lang == value


def make_queries(seed: int, corpus: Corpus, n: int) -> list[Query]:
    """1-4 terms drawn by df band (head/torso/tail, 7/10/8 of a block's 25
    terms); 5% carry an unknown term, 20% a lang filter, 10% ask for k=100
    instead of k=10.  The mix is stratified in blocks of 10 so that a short
    window sees the same mix on every seed."""
    rng = np.random.default_rng([seed, 2])
    order = np.argsort(-corpus.df, kind="stable")
    present = order[corpus.df[order] > 0]
    bands = [present[:100], present[100:3000], present[(corpus.df[present] <= 10)]]
    out = []
    for b in range(-(-n // 10)):
        n_terms = rng.permutation([1, 1, 2, 2, 2, 3, 3, 3, 4, 4])
        term_bands = iter(rng.permutation(np.repeat([0, 1, 2], [7, 10, 8])))
        k100, lang_at, unknown_at = rng.permutation(10)[:3]
        lang_at2 = rng.choice([i for i in range(10) if i != lang_at])
        for i in range(10):
            words = []
            for _ in range(n_terms[i]):
                band = bands[int(next(term_bands))]
                words.append(corpus.vocab[int(band[int(rng.integers(0, len(band)))])])
            if i == unknown_at and b % 2 == 0:
                words.append("qj" + "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 6)))
            lang = (LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
                    if i in (lang_at, lang_at2) else None)
            out.append(Query(" ".join(words), 100 if i == k100 else 10, lang))
    return out[:n]


# ---------------------------------------------------------------------------
# deltas
# ---------------------------------------------------------------------------
@dataclass
class Delta:
    """PAGES_DELTA rows plus the tokens the ingest checks probe."""
    rows: dict[str, list]
    added_tokens: dict[str, int]     # planted token -> doc_id (ADDED/MODIFIED)
    gone_tokens: list[str]           # tokens of DELETED / replaced docs

    def __len__(self) -> int:
        return len(self.rows["url"])


def make_deltas(seed: int, corpus: Corpus, n_deltas: int, share: float = 0.01) -> list[Delta]:
    """~``share`` of the base per delta: 80% ADDED with fresh docids, 10%
    MODIFIED and 10% DELETED from one or two docid neighbourhoods (a site
    recrawled).  Victims get a planted token in the BASE corpus (mutated
    here) so the checks can prove it disappears."""
    rng = np.random.default_rng([seed, 3])
    src = TextSource(rng, corpus.vocab)
    size = max(10, int(len(corpus) * share))
    n_mod = n_del = max(1, size // 10)
    n_add = size - n_mod - n_del
    ids = np.asarray(corpus.doc_id)
    eligible = np.array([k == "utf8" for k in corpus.kind])
    used = np.zeros(len(ids), dtype=bool)
    next_id = corpus.next_doc_id
    counter = 0
    out = []
    for d in range(n_deltas):
        # victims: from one or two 8192-docid neighbourhoods
        hoods = rng.choice(np.unique(ids // 8192), size=2, replace=False)
        pool = np.flatnonzero(np.isin(ids // 8192, hoods) & eligible & ~used)
        victims = rng.choice(pool, size=n_mod + n_del, replace=False)
        used[victims] = True
        rows: dict[str, list] = {c: [] for c in
                                 ("url", "warc_ts", "html", "text", "lang", "op", "old_url", "doc_id")}
        added: dict[str, int] = {}
        gone: list[str] = []

        def put(doc_id: int, url: str, op: str) -> None:
            nonlocal counter
            tok = planted_token(seed, counter)
            counter += 1
            t = src.render(src.ranks(int(src.lengths(1)[0]))) + " " + tok
            rows["url"].append(url)
            rows["warc_ts"].append(_T0 + dt.timedelta(days=30 * (d + 1), seconds=doc_id))
            rows["html"].append(t.encode())
            rows["text"].append(t)
            rows["lang"].append("en")
            rows["op"].append(op)
            rows["old_url"].append(None)
            rows["doc_id"].append(doc_id)
            added[tok] = doc_id

        for j, v in enumerate(victims):
            tok = planted_token(seed, counter)
            counter += 1
            corpus.text[v] = corpus.text[v] + " " + tok
            corpus.html[v] = corpus.text[v].encode()
            gone.append(tok)
            if j < n_mod:
                put(corpus.doc_id[v], corpus.url[v], "MODIFIED")
            else:
                for c in rows:
                    rows[c].append({"url": corpus.url[v], "op": "DELETED",
                                    "old_url": corpus.url[v], "doc_id": corpus.doc_id[v],
                                    "lang": corpus.lang[v]}.get(c))
        for _ in range(n_add):
            next_id += int(rng.integers(1, int(1 / DOCID_DENSITY) * 2))
            put(next_id, _url(next_id, "new"), "ADDED")
        out.append(Delta(rows, added, gone))
    return out
