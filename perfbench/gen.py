"""Seeded input generators with their planted truth.

Every generator is a pure function of its seed: the same seed gives the
same pages, documents and vectors, and the counts of what was planted
(dirty values, near-duplicates, contamination, junk) come back with the
inputs so the benchmark can check the package's answers against them.
"""

from __future__ import annotations

import random
import re
import time
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------------
# CRM deals: the paginated source of crm_window_load
# ---------------------------------------------------------------------------

PAGE_SIZE = 500  # the reference client's ``count`` per page

# What the Caresoft deals endpoint returns: every field as JSON text.
DEAL_SCHEMA = (
    "id string, deal_no string, customer_id string, amount string, "
    "created_at string, updated_at string, subject string, status string"
)
DEAL_COLUMNS = [c.split()[0] for c in DEAL_SCHEMA.split(", ")]
INT_FIELDS = ("id", "deal_no", "customer_id", "amount")
DATE_FIELDS = ("created_at", "updated_at")

# Dirty-value shares: each coerces to NULL under the package's cast policy.
DIRTY_INT = {"deal_no": (0.02, "n/a"), "customer_id": (0.01, "12x"), "amount": (0.01, "")}
DIRTY_DATE = {"created_at": (0.01, "not-a-date"), "updated_at": (0.02, "unknown")}
FRACTIONAL_AMOUNT = 0.02  # '1234.75' -> 1234: coerced, not NULL
PAGE_FAIL_ONCE, PAGE_FAIL_TWICE = 0.10, 0.02  # transient page failures
STATUSES = ("open", "won", "lost", "pending")
_INT_RE = re.compile(r"[+-]?\d+")


def _rng(*parts: int) -> random.Random:
    key = 0
    for p in parts:
        key = key * 1_000_003 + p
    return random.Random(key)


@dataclass(frozen=True)
class Window:
    """One ``[created_since, created_to]`` pull: the deal ids the API returns,
    in page order, and the day the window covers."""

    seed: int
    index: int
    ids: tuple[int, ...]
    day: int  # day offset from 2024-01-01

    @property
    def n_pages(self) -> int:
        return -(-len(self.ids) // PAGE_SIZE)

    def page_failures(self, page: int) -> int:
        """How many times ``page`` fails before it is served."""
        u = _rng(self.seed, self.index, page, 7).random()
        return 2 if u < PAGE_FAIL_TWICE else 1 if u < PAGE_FAIL_TWICE + PAGE_FAIL_ONCE else 0

    def page(self, page: int) -> list[dict]:
        """The records of 1-based ``page``; an empty list past the end."""
        ids = self.ids[(page - 1) * PAGE_SIZE : page * PAGE_SIZE]
        rng = _rng(self.seed, self.index, page)
        base = 1704067200 + self.day * 86400  # 2024-01-01 UTC
        out = []
        for deal_id in ids:
            created = base + rng.randrange(86400)
            rec = {
                "id": str(deal_id),
                "deal_no": str(rng.randrange(1, 10**7)),
                "customer_id": str(rng.randrange(1, 10**5)),
                "amount": str(rng.randrange(1, 10**8)),
                "created_at": _fmt(created),
                "updated_at": _fmt(created + rng.randrange(30 * 86400)),
                "subject": f"deal {rng.randrange(10**9)} for customer",
                "status": rng.choice(STATUSES),
            }
            if rng.random() < FRACTIONAL_AMOUNT:
                rec["amount"] = f"{rng.randrange(1, 10**6)}.75"
            for name, (share, bad) in (*DIRTY_INT.items(), *DIRTY_DATE.items()):
                if rng.random() < share:
                    rec[name] = bad
            out.append(rec)
        return out


def _fmt(epoch: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch))


def cast_record(rec: dict) -> tuple:
    """The package's cast policy on one record, in plain Python: the MERGE
    model's row.  Ints parse exactly or truncate a decimal, dates stay in
    canonical form, anything else coerces to None."""
    out = []
    for name in DEAL_COLUMNS:
        v = rec[name]
        if name in INT_FIELDS:
            if _INT_RE.fullmatch(v):
                out.append(int(v))
            else:
                try:
                    out.append(int(float(v)))
                except ValueError:
                    out.append(None)
        elif name in DATE_FIELDS:
            out.append(None if v in ("not-a-date", "unknown") else v)
        else:
            out.append(v)
    return tuple(out)


def dirty_counts(records: list[dict]) -> tuple[int, int]:
    """(int values, date values) that the cast policy must turn into NULL."""
    ints = sum(1 for r in records for n, (_, bad) in DIRTY_INT.items() if r[n] == bad)
    dates = sum(1 for r in records for n, (_, bad) in DIRTY_DATE.items() if r[n] == bad)
    return ints, dates


class CrmPlan:
    """The sequence of windows one run pulls: an initial load, then update
    windows that each re-deliver ``existing_share`` of their ids from the
    main table and add new ones.  Ids are unique within a window."""

    def __init__(self, seed: int, load_rows: int, window_rows: int, existing_share: float):
        self.seed = seed
        self.load_rows = load_rows
        self.window_rows = window_rows
        self.existing_share = existing_share
        self._rng = _rng(seed, 99)
        self._next_id = 1
        self._known: list[int] = []
        self._windows = 0

    def _new_ids(self, n: int) -> list[int]:
        ids = list(range(self._next_id, self._next_id + n))
        self._next_id += n
        return ids

    def initial(self) -> Window:
        """The ``new`` load; every call returns the same window."""
        ids = tuple(range(1, self.load_rows + 1))
        if not self._known:
            self._known = list(ids)
            self._next_id = self.load_rows + 1
        return Window(self.seed, 0, ids, day=0)

    def next_update(self) -> Window:
        self._windows += 1
        n_old = int(self.window_rows * self.existing_share)
        old = self._rng.sample(self._known, n_old)
        new = self._new_ids(self.window_rows - n_old)
        self._known.extend(new)
        ids = old + new
        self._rng.shuffle(ids)
        return Window(self.seed, self._windows, tuple(ids), day=self._windows)


class PageFetcher:
    """The seeded page function handed to the package: serves a window's
    pages, fails each page a planted number of times before serving it, and
    counts calls, failures and busy time in Spark accumulators so the counts
    survive the trip back from the Python workers.

    Each page keeps a call counter that cycles through its planted failures
    and one success, so any number of full fetches of a page fail the same
    number of times each, whichever worker runs them."""

    def __init__(self, window: Window, calls, retries, busy_s):
        self.window = window
        self.calls, self.retries, self.busy_s = calls, retries, busy_s
        self._seen: dict[int, int] = {}

    def __call__(self, page: int) -> list[dict]:
        t0 = time.perf_counter()
        try:
            fails = self.window.page_failures(page)
            n = self._seen.get(page, 0)
            self._seen[page] = n + 1
            if n % (fails + 1) < fails:
                self.retries.add(1)
                raise ConnectionError(f"planted transient failure on page {page}")
            self.calls.add(1)
            return self.window.page(page)
        finally:
            self.busy_s.add(time.perf_counter() - t0)


# ---------------------------------------------------------------------------
# Documents: the corpus and eval slice of corpus_prep
# ---------------------------------------------------------------------------

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    bench: list[tuple[int, str]]
    near_dup_ids: set[int] = field(default_factory=set)  # planted copies (never the original)
    contaminated_ids: set[int] = field(default_factory=set)  # train docs quoted by the eval slice
    junk_ids: set[int] = field(default_factory=set)  # low-quality docs


WORDS_PER_DOC = 80
VOCAB = 6000
OPENINGS = 200  # shared boilerplate phrases
NEAR_DUP_SHARE = 0.10
JUNK_SHARE = 0.08
CONTAM_SHARE = 0.10  # of eval documents


def make_corpus(seed: int, n_docs: int, n_bench: int) -> Corpus:
    """Documents of Zipf-distributed pseudo-words, each opened by one of
    ``OPENINGS`` shared boilerplate phrases (rare shingles shared by many
    documents: candidate pairs that are not near-duplicates).  A
    ``NEAR_DUP_SHARE`` of documents are copies of an earlier document with
    three words replaced; a ``JUNK_SHARE`` are number-and-punctuation soup;
    a ``CONTAM_SHARE`` of eval documents quote a 14-word span of a train
    document."""
    rng = _rng(seed, 3)
    words = sorted(
        {"".join(rng.choice(_LETTERS) for _ in range(rng.randint(3, 9))) for _ in range(VOCAB)}
    )
    weights = [1.0 / (r + 1) ** 0.9 for r in range(len(words))]
    opens = [" ".join(rng.choices(words, k=6)) for _ in range(OPENINGS)]

    def text() -> str:
        return rng.choice(opens) + " " + " ".join(rng.choices(words, weights, k=WORDS_PER_DOC))

    corpus = Corpus(docs=[], bench=[])
    originals: list[int] = []
    for doc_id in range(n_docs):
        u = rng.random()
        if u < JUNK_SHARE:
            body = " ".join(f"{rng.randrange(1000)}{rng.choice('!?.,;:')}" for _ in range(30))
            corpus.junk_ids.add(doc_id)
        elif u < JUNK_SHARE + NEAR_DUP_SHARE and originals:
            src = corpus.docs[rng.choice(originals)][1].split(" ")
            for pos in rng.sample(range(6, len(src)), 3):
                src[pos] = src[pos] + rng.choice(_LETTERS)  # never equal to the original word
            body = " ".join(src)
            corpus.near_dup_ids.add(doc_id)
        else:
            body = text()
            originals.append(doc_id)
        corpus.docs.append((doc_id, body))

    bench_base = 10**9
    for j in range(n_bench):
        body = text()
        if rng.random() < CONTAM_SHARE:
            src_id = rng.choice(originals)
            span = corpus.docs[src_id][1].split(" ")[20:34]
            body = body + " " + " ".join(span)
            corpus.contaminated_ids.add(src_id)
        corpus.bench.append((bench_base + j, body))
    return corpus


# ---------------------------------------------------------------------------
# Vectors: the corpus, queries and append batches of vector_topk_serve
# ---------------------------------------------------------------------------


N_CLUSTERS = 32
SPREAD = 0.6  # per-dimension noise around a unit-normal cluster centre
QUERY_NOISE = 0.1


class VectorStream:
    """Clustered float32 vectors: a first batch to index, then append
    batches drawn from the same mixture, and queries that perturb a vector
    already present."""

    def __init__(self, seed: int, dim: int):
        self._rng = np.random.default_rng(seed)
        self.dim = dim
        self.centers = self._rng.normal(size=(N_CLUSTERS, dim))
        self.next_id = 0

    def take(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        lab = self._rng.integers(0, len(self.centers), n)
        vecs = self.centers[lab] + SPREAD * self._rng.normal(size=(n, self.dim))
        return ids, vecs.astype(np.float32)

    def query(self, vecs: np.ndarray) -> list[float]:
        base = vecs[self._rng.integers(0, len(vecs))].astype(np.float64)
        return (base + QUERY_NOISE * self._rng.normal(size=self.dim)).tolist()
