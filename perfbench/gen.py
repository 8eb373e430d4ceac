"""Seeded benchmark inputs.

Everything the program reads during a benchmark run is made here from
the run's ``--seed``: the same seed gives byte-identical inputs.

* ``fixtures`` writes the ten parquet tables the query registry reads
  (``region`` .. ``embeddings``), shaped like the repo's fixture family
  (row counts proportional to the scale factor, same column types and
  value domains), then multiplies them by key-shifted replication the
  way ``tools/scalebench.amplify`` does. The seed picks the data and the
  key offset of the first replica.
* ``tmdb`` lands TMDB-shaped JSON for the ETL pipeline: page envelopes
  with cross-page duplicates, one credits document per movie (3-40 cast
  members), and the genre list; an initial load plus incremental
  batches. It also returns the model of the expected table state.
"""

from __future__ import annotations

import datetime as dt
import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OFFSET = 100_000_000  # same replica key shift as tools/scalebench.py
SHIFT_KEYS = {
    "region": [],
    "nation": [],
    "supplier": ["s_suppkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
TABLES = tuple(SHIFT_KEYS)

VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

_US_PER_DAY = 86_400 * 1_000_000


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = dt.date.fromisoformat(start).toordinal()
    hi = dt.date.fromisoformat(end).toordinal()
    days = rng.integers(lo, hi + 1, n) - dt.date(1970, 1, 1).toordinal()
    return days.astype(np.int64) * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _base_tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_line, n_ev = 4 * n_ord, max(1000, int(1_000_000 * sf))
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(150, n_ev // 66)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _ts(_days("1995-01-01", "2001-08-01", n_ord, rng)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(_days("1995-01-02", "2001-11-04", n_line, rng)),
        }
    )
    start = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    ts = np.sort(rng.integers(start, start + 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    lens = rng.integers(10, 101, n_doc)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # 5% near-duplicates: an earlier document's text plus one marker token
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return t


def fixtures(out_dir: str, seed: int, sf: float, factor: int) -> int:
    """Write the ten tables under ``out_dir`` and return their bytes.

    Each table is ``{name}.parquet``, a directory with one part file per
    replica. Replica ``r`` shifts every key column by
    ``(r + seed % 4) * OFFSET``, consistently across fact and dimension
    tables, so joins, selectivities and value distributions are those of
    the base while volume multiplies by ``factor``."""
    rng = np.random.default_rng(seed)
    base = _base_tables(sf, rng)
    first = seed % 4
    total = 0
    for name, keys in SHIFT_KEYS.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        for r in range(factor):
            tbl = base[name]
            for col in keys:
                i = tbl.schema.get_field_index(col)
                shifted = np.asarray(tbl[col]) + (r + first) * OFFSET
                tbl = tbl.set_column(i, col, pa.array(shifted, pa.int64()))
            p = os.path.join(d, f"part-{r:05d}.parquet")
            pq.write_table(tbl, p, compression="snappy")
            total += os.path.getsize(p)
    return total


# ---------------------------------------------------------------------------
# TMDB-shaped landing for the ETL pipeline
# ---------------------------------------------------------------------------

GENRES = [
    (28, "Action"), (12, "Adventure"), (16, "Animation"), (35, "Comedy"),
    (80, "Crime"), (99, "Documentary"), (18, "Drama"), (10751, "Family"),
    (14, "Fantasy"), (36, "History"), (27, "Horror"), (10402, "Music"),
    (9648, "Mystery"), (10749, "Romance"), (878, "Science Fiction"),
    (10770, "TV Movie"), (53, "Thriller"), (10752, "War"), (37, "Western"),
]
PAGE_SIZE = 20
TOP_N_CAST = 15


class TmdbModel:
    """Deterministic per-id attributes, so that every appearance of a
    movie (any page, any batch) carries the same genres and credits and
    every person the same name and popularity; only titles change, which
    makes the last-wins rule observable."""

    def __init__(self, seed: int, n_people: int):
        self.seed = seed
        self.n_people = n_people
        r = np.random.default_rng([seed, 3])
        self._gender = r.integers(0, 3, n_people + 1).tolist()
        self._popularity = np.round(r.uniform(0, 100, n_people + 1), 3).tolist()

    def _rng(self, kind: int, key: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, kind, key])

    @functools.lru_cache(maxsize=None)
    def genres(self, mid: int) -> list[int]:
        r = self._rng(1, mid)
        idx = r.choice(len(GENRES), int(r.integers(1, 4)), replace=False)
        return [GENRES[i][0] for i in sorted(idx)]

    @functools.lru_cache(maxsize=None)
    def cast_ids(self, mid: int) -> list[int]:
        r = self._rng(2, mid)
        n = int(r.integers(3, 41))
        return (r.choice(self.n_people, n, replace=False) + 1).tolist()

    def person(self, pid: int) -> dict:
        return {
            "id": pid,
            "name": f"Person {pid}",
            "gender": self._gender[pid],
            "popularity": self._popularity[pid],
        }

    def movie(self, mid: int, title: str) -> dict:
        r = self._rng(4, mid)
        return {
            "id": mid,
            "title": title,
            "original_title": f"Original {mid}",
            "overview": " ".join(VOCAB[i] for i in r.integers(0, len(VOCAB), 12)),
            "release_date": "" if mid % 17 == 0 else f"20{mid % 24:02d}-0{1 + mid % 9}-1{mid % 9}",
            "original_language": LANGS[mid % 5],
            "popularity": round(float(r.uniform(1, 500)), 3),
            "vote_average": round(float(r.uniform(1, 10)), 1),
            "vote_count": int(r.integers(0, 20_000)),
            "genre_ids": self.genres(mid),
        }

    def credits(self, mid: int) -> dict:
        cast = []
        for order, pid in enumerate(self.cast_ids(mid)):
            p = self.person(pid)
            cast.append({**p, "order": order, "character": f"Role {order} of {mid}"})
        return {"id": mid, "cast": cast, "crew": []}


def _batch_ids(rng: np.random.Generator, pages: int, fresh: list[int], seen: list[int]):
    """Movie ids for ``pages`` pages: ~70% fresh ids, ~30% repeats of
    ids seen earlier (cross-page duplicates; for a batch, also updates
    of ids already loaded)."""
    n = pages * PAGE_SIZE
    ids = []
    for _ in range(n):
        if seen and rng.random() < 0.3:
            ids.append(seen[int(rng.integers(0, len(seen)))])
        else:
            ids.append(fresh.pop())
            seen.append(ids[-1])
    return ids


def tmdb(out_dir: str, seed: int, pages: int, batches: int, batch_pages: int) -> dict:
    """Land the initial load and ``batches`` incremental batches under
    ``out_dir`` and return their paths, landed bytes and the expected
    table state after the initial load and after each batch."""
    from movie_data_etl_pipeline_spark.sources import rest

    rng = np.random.default_rng([seed, 7])
    n_fresh = (pages + batches * batch_pages) * PAGE_SIZE
    fresh = [int(x) for x in rng.permutation(np.arange(1, 4 * n_fresh + 1))[:n_fresh]][::-1]
    model = TmdbModel(seed, n_people=max(500, 3 * n_fresh))
    genre_path = rest.land_json_docs(
        out_dir, "genres", [{"genres": [{"id": g, "name": n} for g, n in GENRES]}]
    )
    seen: list[int] = []
    titles: dict[int, str] = {}
    steps = []
    for b, n_pages in enumerate([pages] + [batch_pages] * batches):
        ids = _batch_ids(rng, n_pages, fresh, seen)
        envelopes = []
        for p in range(n_pages):
            results = []
            for j, mid in enumerate(ids[p * PAGE_SIZE : (p + 1) * PAGE_SIZE]):
                title = f"Movie {mid} b{b} p{p} #{j}"
                titles[mid] = title  # arrival order: the last one wins
                results.append(model.movie(mid, title))
            envelopes.append({"page": p + 1, "results": results, "total_pages": n_pages})
        d = os.path.join(out_dir, f"batch{b}")
        paths = {
            "pages": rest.land_json_docs(d, "pages", envelopes),
            "credits": rest.land_json_docs(
                d, "credits", (model.credits(m) for m in sorted(set(ids)))
            ),
            "genres": genre_path,
        }
        movies = sorted(titles)
        people = {p for m in movies for p in model.cast_ids(m)}
        steps.append(
            {
                "paths": paths,
                "landed_bytes": sum(os.path.getsize(p) for p in paths.values()),
                "expect": {
                    "movies": len(movies),
                    "genres": len(GENRES),
                    "movie_genre": sum(len(model.genres(m)) for m in movies),
                    "actors": len(people),
                    "movie_actor": sum(
                        min(TOP_N_CAST, len(model.cast_ids(m))) for m in movies
                    ),
                    "titles": dict(titles),
                },
            }
        )
    return {"steps": steps}
