"""Synthetic IMDB-shaped CSV fixtures per FIXTURES.md at the repo root.

Reproduces the reference data's semantics-bearing quirks: literal
``NULL`` strings for missing values, comma-containing quoted fields,
multi-valued country/language strings, sparse FKs in the mapping tables,
a currency-string gross column, and (optionally) malformed rows in
names.csv to exercise ON_ERROR='CONTINUE' / DROPMALFORMED.
"""

from __future__ import annotations

import csv
import datetime
import os
import random

GENRES = [
    "Action", "Adventure", "Comedy", "Crime", "Drama", "Family", "Fantasy",
    "Horror", "Mystery", "Others", "Romance", "Sci-Fi", "Thriller",
]
COUNTRIES = ["USA", "India", "France", "Iran", "Germany", "Japan", "UK", "Canada"]
LANGS = ["English", "Hindi", "French", "German", "Japanese", "Persian"]


def _date_in_year(rng: random.Random, year: int) -> str:
    d = datetime.date(year, 1, 1) + datetime.timedelta(days=rng.randrange(365))
    return d.isoformat()


def generate(out_dir: str, n: int = 200, seed: int = 42, malformed_names: int = 2) -> None:
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    movie_ids = [f"tt{i:07d}" for i in range(1, n + 1)]
    name_ids = [f"nm{i:07d}" for i in range(1, n + 1)]

    # movie.csv
    rows = []
    for i, mid in enumerate(movie_ids):
        year = rng.choices([2017, 2018, 2019], weights=[394, 250, 356])[0]
        if i < 6:  # pin Graf 1's predicate: USA and India rows in 2019
            year = 2019
            country = "USA" if i % 2 == 0 else "India"
        elif rng.random() < 0.23:
            country = ", ".join(rng.sample(COUNTRIES, rng.randint(2, 3)))
        elif rng.random() < 0.01:
            country = "NULL"
        else:
            country = rng.choice(COUNTRIES)
        title = f"Movie {i}, the \"{rng.choice(['Great', 'Bad', 'Último'])}\" one"
        gross = "NULL" if rng.random() < 0.52 else f"$ {rng.randrange(1000, 10_000_000)}"
        langs = (
            "NULL"
            if rng.random() < 0.03
            else ", ".join(rng.sample(LANGS, rng.randint(1, 2)))
        )
        prod = "NULL" if rng.random() < 0.05 else f"Studio {rng.randrange(40)}"
        rows.append(
            [mid, title, year, _date_in_year(rng, year), rng.randrange(60, 181),
             country, gross, langs, prod]
        )
    _write(out_dir, "movie.csv",
           ["id", "title", "year", "date_published", "duration", "country",
            "worlwide_gross_income", "languages", "production_company"], rows)

    # ganre.csv — ~52% of movies covered, 1-3 genres each
    rows = []
    for mid in movie_ids:
        if rng.random() < 0.52:
            for g in rng.sample(GENRES, rng.randint(1, 3)):
                rows.append([mid, g])
    _write(out_dir, "ganre.csv", ["movie_id", "genre"], rows)

    # names.csv — sparse known_for; optionally inject malformed rows
    rows = []
    for i, nid in enumerate(name_ids):
        height = "NULL" if rng.random() < 0.15 else rng.randrange(150, 201)
        dob = (
            "NULL"
            if rng.random() < 0.04
            else _date_in_year(rng, rng.randrange(1900, 2001))
        )
        # Reference profile is 88.5% NULL / mostly-dangling (FIXTURES.md),
        # but that starves Graf 3/4 of director links at small n; keep the
        # three-way mix (NULL / valid / dangling) with enough valid links
        # that the known_for->fact join path is actually exercised.
        if rng.random() < 0.6:
            known = "NULL"
        elif rng.random() < 0.7:
            known = rng.choice(movie_ids)
        else:
            known = f"tt{rng.randrange(n + 1, 2 * n):07d}"  # dangling FK
        rows.append([nid, f"Person {i}", height, dob, known])
    for j in range(malformed_names):
        # unparseable date in a typed DATE column -> dropped by
        # DROPMALFORMED, mirroring ON_ERROR='CONTINUE'
        rows.append([f"nm{9_000_000 + j:07d}", f"Broken {j}", 170, "not-a-date", "NULL"])
    _write(out_dir, "names.csv",
           ["id", "name", "height", "date_of_birth", "known_for_movies"], rows)

    # ratings.csv — 1:1 with movies
    rows = [
        [mid, round(rng.uniform(1.2, 10.0), 1), rng.randrange(100, 600_000),
         rng.randrange(1, 11)]
        for mid in movie_ids
    ]
    _write(out_dir, "ratings.csv",
           ["movie_id", "avg_rating", "total_votes", "median_rating"], rows)

    # director_mapping.csv — ~46% of movies, sparse valid name FKs
    rows = []
    seen = set()
    for mid in movie_ids:
        if rng.random() < 0.46:
            for _ in range(rng.randint(1, 2)):
                nid = (
                    rng.choice(name_ids[: n // 10])
                    if rng.random() < 0.1
                    else f"nm{rng.randrange(n + 1, 2 * n):07d}"
                )
                if (mid, nid) not in seen:
                    seen.add((mid, nid))
                    rows.append([mid, nid])
    _write(out_dir, "director_mapping.csv", ["movie_id", "name_id"], rows)

    # role_mapping.csv — sparse valid name FKs, actor/actress 62/38
    rows = []
    seen = set()
    for mid in movie_ids:
        for _ in range(rng.randint(0, 3)):
            nid = (
                rng.choice(name_ids[: n // 5])
                if rng.random() < 0.15
                else f"nm{rng.randrange(n + 1, 2 * n):07d}"
            )
            if (mid, nid) not in seen:
                seen.add((mid, nid))
                cat = "actor" if rng.random() < 0.62 else "actress"
                rows.append([mid, nid, cat])
    _write(out_dir, "role_mapping.csv", ["movie_id", "name_id", "category"], rows)


def _write(out_dir: str, fname: str, header: list[str], rows: list[list]) -> None:
    with open(os.path.join(out_dir, fname), "w", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL, doublequote=True)
        w.writerow(header)
        w.writerows(rows)


def stand_in_for_reference() -> None:
    """When the reference CSVs (``parity.REF_DATA``) are absent, write a
    fixture stage to a temporary directory, removed at exit, point the
    ``imdb_reference_parity`` face and its oracle SQL at it, as the
    tier-1 parity tests do, and say so. The face still runs and is still
    compared with its oracle."""
    import atexit
    import dataclasses
    import shutil
    import tempfile

    from _imdb_etl_spark.plans import REGISTRY, parity

    if os.path.isdir(parity.REF_DATA):
        return
    stage = tempfile.mkdtemp(prefix="imdb_stage_")
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    generate(stage)
    spec = REGISTRY["imdb_reference_parity"]
    parity._PARITY_SQL = spec.oracle.replace(parity.REF_DATA, stage)
    REGISTRY[spec.name] = dataclasses.replace(spec, oracle=parity._PARITY_SQL)
    parity.REF_DATA = stage
    print(f"imdb_reference_parity: reference CSVs absent; a tests.fixtures stage stood in ({stage})")
