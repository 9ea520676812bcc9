"""Seeded benchmark inputs.

Every input is a pure function of ``(workload, seed)``: the TPC-H,
documents, embeddings and events tables are derived from the read-only
sf0.1 test tables (TESTDATA.md) by structure-preserving transforms, and the Play Store CSV
pair is written by a small generator. The same seed gives byte-identical
files. Inputs are generated once per seed, before the engine starts, and
reused by later runs with the same seed.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import io
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
# bump when a transform or an expectation changes, so cached inputs and
# expectations of an older version are rebuilt instead of reused
GENERATOR_VERSION = "1"
ROW_GROUP = 65_536



def testdata_root() -> Path:
    """The test-data directory: the parent of the smoke-test tables that the
    entry module ``__spark_entry__`` names."""
    from __spark_entry__ import SMOKE_SF_DIR

    return Path(SMOKE_SF_DIR).parent


def _source() -> Path:
    return testdata_root() / "sf0.1"


def _rng(seed: int, salt: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{seed}:{salt}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(table: pa.Table, path: Path) -> None:
    # fixed writer settings: the bytes depend only on the table
    pq.write_table(
        table.replace_schema_metadata(None),
        path,
        row_group_size=ROW_GROUP,
        compression="snappy",
        write_statistics=True,
    )


def _shuffled(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _shift_days(col: pa.ChunkedArray, days: int) -> pa.Array:
    us = pc.cast(col, pa.int64())
    return pc.cast(pc.add(us, days * 86_400_000_000), col.type)


def _replicate_tpch(out: Path, seed: int, scale: int) -> None:
    """TPC-H scaled ``scale`` times by key shift (tools/scale_probe_r14.py):
    replica r maps every order/customer key k to k*scale + r, so per-key
    join fan-out is that of sf0.1. Replica r's order and ship dates move
    by a seeded whole number of days (the same shift for an order and its
    lines), then rows are shuffled by seed."""
    rng = _rng(seed, "tpch")
    shifts = [int(d) for d in rng.integers(-45, 46, size=scale)]
    src = {t: pq.read_table(_source() / f"{t}.parquet") for t in TPCH_TABLES}

    def scaled(name: str, keys: tuple[str, ...], date_col: str | None) -> pa.Table:
        parts = []
        for r in range(scale):
            t = src[name]
            for k in keys:
                i = t.schema.get_field_index(k)
                t = t.set_column(i, k, pc.add(pc.multiply(t[k], scale), r))
            if date_col:
                i = t.schema.get_field_index(date_col)
                t = t.set_column(i, date_col, _shift_days(t[date_col], shifts[r]))
            parts.append(t)
        return _shuffled(pa.concat_tables(parts).combine_chunks(), rng)

    _write(scaled("lineitem", ("l_orderkey",), "l_shipdate"), out / "lineitem.parquet")
    _write(scaled("orders", ("o_orderkey", "o_custkey"), "o_orderdate"), out / "orders.parquet")
    _write(scaled("customer", ("c_custkey",), None), out / "customer.parquet")
    for t in ("region", "nation", "supplier", "part"):
        _write(src[t], out / f"{t}.parquet")


def _permute_ids(table: pa.Table, col: str, rng: np.random.Generator) -> pa.Table:
    """Relabel ``col`` by a seeded bijection of its distinct values."""
    values = table[col].to_numpy()
    uniq = np.unique(values)
    mapped = rng.permutation(uniq)[np.searchsorted(uniq, values)]
    i = table.schema.get_field_index(col)
    return table.set_column(i, col, pa.array(mapped, table.schema.field(col).type))


def _documents(out: Path, seed: int) -> None:
    """Seeded vocabulary bijection (the alphabet rotation of
    scale_probe_r14, at word level so stopwords and language markers keep
    their identity), seeded doc_id relabelling, row shuffle. Duplicate and
    near-duplicate structure is preserved exactly."""
    from bigdata_googleplaystore_spark.functions.text import LANG_MARKERS, STOPWORDS_EN

    # words the text operators treat specially keep their identity, so
    # stopword ratios and language detection are unchanged
    keep = set(STOPWORDS_EN).union(*LANG_MARKERS.values())
    rng = _rng(seed, "documents")
    t = pq.read_table(_source() / "documents.parquet")
    texts = t["text"].to_pylist()
    vocab = sorted({w for s in texts for w in s.split(" ") if w.isalpha() and w not in keep})
    mapping = dict(zip(vocab, (vocab[i] for i in rng.permutation(len(vocab)))))
    new = [" ".join(mapping.get(w, w) for w in s.split(" ")) for s in texts]
    t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(new, pa.string()))
    if "n_chars" in t.column_names:
        t = t.set_column(
            t.schema.get_field_index("n_chars"),
            "n_chars",
            pa.array([len(s) for s in new], t.schema.field("n_chars").type),
        )
    _write(_shuffled(_permute_ids(t, "doc_id", rng), rng), out / "documents.parquet")


def _embeddings(out: Path, seed: int) -> None:
    rng = _rng(seed, "embeddings")
    t = pq.read_table(_source() / "embeddings.parquet")
    _write(_shuffled(_permute_ids(t, "vec_id", rng), rng), out / "embeddings.parquet")


def _events(out: Path, seed: int) -> None:
    """Seeded user relabelling and one seeded shift of every timestamp
    (relative timing is unchanged), then a row shuffle."""
    rng = _rng(seed, "events")
    t = _permute_ids(pq.read_table(_source() / "events.parquet"), "user_id", rng)
    shift_us = int(rng.integers(0, 86_400)) * 1_000_000
    us = pc.add(pc.cast(t["ts"], pa.int64()), shift_us)
    t = t.set_column(t.schema.get_field_index("ts"), "ts", pc.cast(us, t.schema.field("ts").type))
    _write(_shuffled(t, rng), out / "events.parquet")


# --- Play Store CSV pair ----------------------------------------------------

PLAYSTORE_HEADER = (
    "App,Category,Rating,Reviews,Size,Installs,Type,Price,Content Rating,"
    "Genres,Last Updated,Current Ver,Android Ver"
)
_CATEGORIES = (
    "ART_AND_DESIGN AUTO_AND_VEHICLES BEAUTY BOOKS_AND_REFERENCE BUSINESS COMICS "
    "COMMUNICATION DATING EDUCATION ENTERTAINMENT EVENTS FINANCE FOOD_AND_DRINK "
    "HEALTH_AND_FITNESS HOUSE_AND_HOME LIBRARIES_AND_DEMO LIFESTYLE GAME FAMILY "
    "MEDICAL SOCIAL SHOPPING PHOTOGRAPHY SPORTS TRAVEL_AND_LOCAL TOOLS PERSONALIZATION "
    "PRODUCTIVITY PARENTING WEATHER VIDEO_PLAYERS NEWS_AND_MAGAZINES MAPS_AND_NAVIGATION"
).split()
_GENRES = (
    "Art & Design", "Pretend Play", "Action", "Casual", "Tools", "Education", "Puzzle",
    "Entertainment", "Music & Video", "Brain Games", "Strategy", "Racing", "Simulation",
    "Arcade", "Board", "Card", "Role Playing", "Sports", "Health & Fitness", "Finance",
    "Lifestyle", "Social", "Travel & Local", "Productivity", "Personalization",
    "Photography", "Shopping", "Communication", "Dating", "Weather", "Medical",
    "Business", "Books & Reference", "Comics", "Events", "Parenting", "Creativity",
    "Adventure", "Word", "Trivia", "Educational", "Libraries & Demo", "Beauty",
    "House & Home", "Food & Drink", "Auto & Vehicles", "News & Magazines",
    "Maps & Navigation", "Video Players & Editors", "Action & Adventure",
)
_MONTHS = (
    "January February March April May June July August September October November December"
).split()
# p * 0.9 never has a 5 in the third decimal, so HALF_UP rounding is unambiguous
_PRICES = ("0.99", "1.99", "2.99", "4.99", "9.99", "14.99")
_CONTENT = ("Everyone", "Teen", "Mature 17+", "Everyone 10+")
N_PLAYSTORE_APPS = 9_600
N_DUPLICATED_APPS = 600
N_REVIEWS_PER_APP = 4


def _csv_line(fields: list[str]) -> str:
    buf = io.StringIO()
    csv.writer(buf, lineterminator="\n").writerow(fields)
    return buf.getvalue()


def _playstore(out: Path, seed: int) -> dict:
    """Write googleplaystore.csv and googleplaystore_user_reviews.csv and
    return the facts Parts 1-5 must reproduce on them.

    Every dirty class of FIXTURES.md is planted: the 12-field shifted row,
    quote damage (a doubled-quote App kept raw, and an unbalanced quote
    that smears the row one field left of its commas), `NaN` ratings,
    lowercase `k` sizes, `Varies with device`, `$` prices, comma-grouped
    installs, and Apps duplicated with only Category differing. Each
    planted row is recorded with the 13 values Spark's CSV reader yields
    for it, which is what the facts are computed from."""
    rng = _rng(seed, "playstore")
    parsed: list[list[str | None]] = []  # 13 fields as the reader yields them
    lines: list[str] = []
    planted: dict[str, str] = {}

    def add(fields: list[str], as_read: list[str | None] | None = None) -> None:
        lines.append(_csv_line(fields))
        parsed.append(list(fields) if as_read is None else as_read)

    for i in range(N_PLAYSTORE_APPS):
        app = f"App {i:05d} {_GENRES[i % len(_GENRES)].split(' ')[0]}"
        if i % 97 == 0:
            app = f"{app}, Lite"  # embedded comma: quoted on disk
        if i % 131 == 0:
            app = f" {app} "  # leading/trailing spaces survive the read
        rating = "NaN" if rng.random() < 0.08 else f"{rng.integers(10, 51) / 10:.1f}"
        size_kind = rng.random()
        if size_kind < 0.15:
            size = "Varies with device"
        elif size_kind < 0.25:
            size = f"{int(rng.integers(100, 999))}k"
        elif size_kind < 0.6:
            size = f"{int(rng.integers(1, 100))}M"
        else:
            size = f"{rng.integers(10, 999) / 10:.1f}M"
        paid = rng.random() < 0.1
        price = f"${_PRICES[int(rng.integers(len(_PRICES)))]}" if paid else "0"
        installs = f"{int(10 ** rng.integers(1, 8)):,}+"
        n_genres = 1 + int(rng.random() < 0.3)
        genres = ";".join(dict.fromkeys(_GENRES[int(g)] for g in rng.integers(len(_GENRES), size=n_genres)))
        if rng.random() < 0.01:
            updated = "February 31, 2018"  # calendar-invalid: null date
        else:
            updated = f"{_MONTHS[int(rng.integers(12))]} {int(rng.integers(1, 29))}, {int(rng.integers(2012, 2019))}"
        cur_ver = "Varies with device" if rng.random() < 0.1 else f"{int(rng.integers(1, 9))}.{int(rng.integers(0, 20))}"
        android = "Varies with device" if rng.random() < 0.1 else f"{int(rng.integers(2, 8))}.0 and up"
        fields = [
            app, _CATEGORIES[int(rng.integers(len(_CATEGORIES)))], rating,
            str(int(rng.integers(0, 5_000_000))), size, installs,
            "Paid" if paid else ("NaN" if rng.random() < 0.002 else "Free"),
            price, _CONTENT[int(rng.integers(len(_CONTENT)))], genres, updated, cur_ver, android,
        ]
        add(fields)
        if i < N_DUPLICATED_APPS:
            dup = list(fields)
            dup[1] = _CATEGORIES[(_CATEGORIES.index(fields[1]) + 1 + i % 5) % len(_CATEGORIES)]
            add(dup)
            planted.setdefault("duplicate", app)
        if i == 7:
            planted["clean"] = app
        if size.endswith("k") and "lowercase_k" not in planted:
            planted["lowercase_k"] = app
        if size == "Varies with device" and "varies" not in planted:
            planted["varies"] = app
        if paid and "dollar_price" not in planted and i >= N_DUPLICATED_APPS:
            planted["dollar_price"] = app
        if rating == "NaN" and "nan_rating" not in planted and i >= N_DUPLICATED_APPS:
            planted["nan_rating"] = app

    n_dirty = 1 + seed % 3
    for j in range(n_dirty):
        # the 12-field shifted row (FIXTURES.md, real line 10474)
        app = f"Life Made WI-Fi Touchscreen Photo Frame {seed}-{j}"
        raw = [app, "1.9", "19", "3.0M", "1,000+", "Free", "0", "Everyone", "",
               "February 11, 2018", "1.0.19", "4.0 and up"]
        lines.append(_csv_line(raw))
        parsed.append(raw[:8] + [None] + raw[9:] + [None])
        planted.setdefault("shifted", app)
        # doubled quotes inside a quoted App: the reader keeps the raw text
        dq = f'Alphabet ""H"" Passcode {seed}-{j}'
        fields = [dq, "TOOLS", "4.3", "120", "19M", "10,000+", "Free", "0", "Everyone",
                  "Tools", "January 7, 2018", "1.0.0", "4.0.3 and up"]
        lines.append(f'"{dq}",' + _csv_line(fields[1:]))
        parsed.append([f'"{dq}"'] + fields[1:])
        planted.setdefault("doubled_quote", f'"{dq}"')
        # an unbalanced quote smears text across columns: the App swallows
        # everything up to the next quote, later values land left
        smear_app = f'"Smeared App {seed}-{j}, Lite,GAME,4.5,100,8.7M,"1'
        lines.append(
            f'"Smeared App {seed}-{j}, Lite,GAME,4.5,100,8.7M,"1,000+",Free,0,Teen,'
            'Action,"March 3, 2018",2.0,4.1 and up\n'
        )
        parsed.append([smear_app, '000+"', "Free", "0", "Teen", "Action", "March 3, 2018",
                       "2.0", "4.1 and up", None, None, None, None])
        planted.setdefault("smeared", smear_app)

    order = rng.permutation(len(lines))
    ps_path = out / "playstore" / "googleplaystore.csv"
    ps_path.parent.mkdir(parents=True, exist_ok=True)
    with open(ps_path, "w", encoding="utf-8", newline="") as f:
        f.write(PLAYSTORE_HEADER + "\n")
        f.writelines(lines[i] for i in order)

    # user reviews: apps with numeric polarities, apps with a literal 'nan'
    # among them (avg poisoned -> 0.0), apps with no reviews (null after
    # the left join), and review apps absent from the store
    apps = list(dict.fromkeys(r[0] for r in parsed))
    reviews: dict[str, list[str]] = {}
    rev_lines = []
    for k, app in enumerate(apps):
        if k % 3 == 2 or '"' in app:
            continue  # no reviews (quoted Apps would not round-trip unchanged)
        pols = [f"{rng.integers(-10, 11) / 10:.1f}" for _ in range(N_REVIEWS_PER_APP)]
        if k % 11 == 0:
            pols[1] = "nan"
        reviews[app] = pols
    for j in range(50):
        reviews[f"Unlisted App {seed}-{j}"] = ["0.5"]
    for app, pols in reviews.items():
        for p in pols:
            sentiment = "nan" if p == "nan" else ("Positive" if float(p) > 0 else "Negative" if float(p) < 0 else "Neutral")
            rev_lines.append(_csv_line([app, "nan" if p == "nan" else f"review of {app.strip()}", sentiment, p, "0.5"]))
    rev_order = rng.permutation(len(rev_lines))
    with open(out / "playstore" / "googleplaystore_user_reviews.csv", "w", encoding="utf-8", newline="") as f:
        f.write("App,Translated_Review,Sentiment,Sentiment_Polarity,Sentiment_Subjectivity\n")
        f.writelines(rev_lines[i] for i in rev_order)
    planted["no_reviews"] = apps[2]
    planted["nan_polarity"] = apps[0]
    return _playstore_facts(parsed, reviews, planted)


def _try_double(s: str | None) -> float | None:
    """Spark's try_cast(string AS double) on the shapes generated above."""
    if s is None:
        return None
    try:
        return float(s)
    except ValueError:
        return None


def _size_mb(s: str | None) -> float | None:
    if s and s.endswith("M"):
        return _try_double(s[:-1])
    return None  # lowercase 'k' and 'Varies with device' are null (dead 'K' branch)


def _price_eur(s: str | None) -> float | None:
    if s and s.startswith("$"):
        return round(float(s[1:]) * 0.9, 2)
    v = _try_double(s)
    return v if v == 0 else None


def _date(s: str | None) -> str | None:
    try:
        return dt.datetime.strptime(s or "", "%B %d, %Y").date().isoformat()
    except ValueError:
        return None


def _playstore_facts(parsed, reviews, planted) -> dict:
    """What Parts 1-5 must yield: Part 2's row count, Part 3/4's row count
    and the cleaned row of every planted App, and Part 5's per-genre
    counts and averages."""
    best = 0
    by_app: dict[str, list[list]] = {}
    for r in parsed:
        rating = _try_double(r[2])
        if rating is not None and rating == rating and rating >= 4.0:
            best += 1
        by_app.setdefault(r[0], []).append(r)

    def polarity(app: str) -> float | None:
        if app not in reviews:
            return None
        vals = [float(p) for p in reviews[app]]
        return 0.0 if any(v != v for v in vals) else sum(vals) / len(vals)

    cleaned = {}
    for app, rows in by_app.items():
        ratings = [_try_double(r[2]) for r in rows]
        reviews_n = [int(r[3]) if (r[3] or "").isdigit() else 0 for r in rows]
        sizes = [v for v in (_size_mb(r[4]) for r in rows) if v is not None]
        prices = [v for v in (_price_eur(r[7]) for r in rows) if v is not None]
        dates = [v for v in (_date(r[10]) for r in rows) if v is not None]
        genres = [r[9].split(";") for r in rows if r[9] is not None]
        cleaned[app] = {
            "Categories": sorted(r[1] for r in rows if r[1] is not None),
            "Rating": max(0.0 if (v is None or v != v) else v for v in ratings),
            "Reviews": max(reviews_n),
            "Size": max(sizes) if sizes else None,
            "Price": max(prices) if prices else None,
            "Last_Updated": max(dates) if dates else None,
            "Genres": max(genres) if genres else None,
            "Average_Sentiment_Polarity": polarity(app),
        }
    genres: dict[str, list] = {}
    for row in cleaned.values():
        for g in row["Genres"] or []:
            genres.setdefault(g, []).append(row)
    metrics = {
        g: {
            "Count": len(rows),
            "Average_Rating": sum(r["Rating"] for r in rows) / len(rows),
            "Average_Sentiment_Polarity": _mean(
                [r["Average_Sentiment_Polarity"] for r in rows if r["Average_Sentiment_Polarity"] is not None]
            ),
        }
        for g, rows in genres.items()
    }
    return {
        "best_apps_rows": best,
        "cleaned_rows": len(cleaned),
        "planted": {cls: {"App": app, **cleaned[app]} for cls, app in planted.items() if app in cleaned},
        "metrics": metrics,
    }


def _mean(vals: list[float]) -> float | None:
    return sum(vals) / len(vals) if vals else None


def _orders(out: Path, seed: int) -> None:
    """sf0.1 orders with a seeded date shift and row shuffle."""
    rng = _rng(seed, "orders")
    t = pq.read_table(_source() / "orders.parquet")
    i = t.schema.get_field_index("o_orderdate")
    t = t.set_column(i, "o_orderdate", _shift_days(t["o_orderdate"], int(rng.integers(-45, 46))))
    _write(_shuffled(t, rng), out / "orders.parquet")


# --- entry point -------------------------------------------------------------


def generate(workload: str, seed: int, root: Path) -> tuple[Path, dict]:
    """Inputs of ``workload`` for ``seed`` under ``root``; returns the data
    directory and its description (file sizes, row counts, planted facts).
    Reuses a finished directory from an earlier run with the same seed."""
    out = root / f"{workload}-seed{seed}"
    meta_path = out / "inputs.json"
    if meta_path.exists():
        meta = json.loads(meta_path.read_text())
        if meta.get("generator") == GENERATOR_VERSION:
            return out, meta
    if not _source().is_dir():
        raise FileNotFoundError(f"source test data not found: {_source()}")
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    facts: dict = {}
    if workload == "tpch_scaled":
        _replicate_tpch(out, seed, scale=4)
    elif workload == "llm_operators":
        _replicate_tpch(out, seed, scale=1)  # orders/lineitem for the window and IVM queries
        _documents(out, seed)
        _embeddings(out, seed)
        _events(out, seed)
    elif workload == "lakehouse_etl":
        _orders(out, seed)
        facts = _playstore(out, seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    files = {}
    for p in sorted(out.rglob("*")):
        if p.is_file():
            rel = str(p.relative_to(out))
            files[rel] = {"bytes": p.stat().st_size}
            if p.suffix == ".parquet":
                files[rel]["rows"] = pq.ParquetFile(p).metadata.num_rows
    meta = {"generator": GENERATOR_VERSION, "workload": workload, "seed": seed, "files": files, "facts": facts}
    tmp = meta_path.with_suffix(".tmp")
    tmp.write_text(json.dumps(meta, sort_keys=True))
    os.replace(tmp, meta_path)
    return out, meta
