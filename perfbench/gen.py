"""Seeded input generator for the etl_daily workload.

Writes the reference pipeline's three inputs (songs.csv, users.csv and stream
batch CSVs) under a work directory. The same seed always gives the same bytes.
Each property below is there because the pipeline has a code path for it:

- Zipf-skewed track plays: real play counts are heavy-tailed. Skew decides how
  many (date, hour, artist, user, track) groups the partial aggregates keep and
  how uneven the hash partitions are.
- ~2% unknown track_ids: the left join against songs must keep them; the genre
  KPIs then drop them at the null-genre filter, the hourly KPIs still count
  them (Enrich.leftEnrich, GenreKpis.compute).
- ~1% unparseable listen_time: try_to_timestamp turns them into null dates,
  which both KPI tables drop (Enrich.coerceTimestamp).
- null artists / track names / popularity in songs: Validate.fillUnknown turns
  null strings into "Unkown"; null popularity stays null and one genre is all
  null, the argmax case pandas' idxmax crashes on.
- popularity ties and repeated track names: the argmax tie-break (popularity
  DESC, track name ASC, track_id ASC) decides the winner, so the oracle pins it.
- ~114 genres x 1000 tracks: the shape of the public Spotify tracks table the
  reference loads (114k rows), larger than one day of plays.
- a header in every batch file: Spark must strip each file's header, not only
  the first (SURVEY 2.11-1).
- late and out-of-order events: a day's batches carry some events of the day
  before, and rows are not sorted by time.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyarrow import csv

N_GENRES = 114
TRACKS_PER_GENRE = 1000
N_USERS = 50_000
ALL_NULL_POP_GENRE = "genre_113"
BASE_DAY = np.datetime64("2024-03-01")
ALPHABET = np.array(list("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"))
BAD_TIMES = np.array(["unknown", "N/A", "--", "not a time", "??"])
# "YYYY-MM-DD " per day and "HH:MM:SS" per second of day, joined per row
DAY_STR = np.array([f"{BASE_DAY + d} " for d in range(400)], dtype=object)
TOD_STR = np.array([f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in range(86400)],
                   dtype=object)
# Share of listening per hour of day (UTC): a diurnal curve, so hours differ.
HOUR_WEIGHTS = np.array([3, 2, 1.5, 1, 1, 1.5, 2.5, 4, 5, 5, 5, 5.5,
                         6, 6, 6, 6, 6.5, 7, 8, 8.5, 8, 7, 5.5, 4], float)


def _ids(rng, n, length=22):
    return ["".join(r) for r in ALPHABET[rng.integers(0, len(ALPHABET), (n, length))]]


def _with_nulls(rng, values, share):
    out = pd.Series(values, dtype=object)
    out[rng.random(len(out)) < share] = None
    return out


def songs_frame(rng):
    n = N_GENRES * TRACKS_PER_GENRE
    genres = np.repeat([f"genre_{g:03d}" for g in range(N_GENRES)], TRACKS_PER_GENRE)
    names = np.array([f"Song {i}" for i in range(n // 2)])
    # Integer popularity 0..100 has many ties per (date, genre) group.
    pop = pd.array(np.clip(rng.normal(35, 20, n).round(), 0, 100).astype(int), dtype="Int64")
    pop[rng.random(n) < 0.01] = pd.NA
    pop[genres == ALL_NULL_POP_GENRE] = pd.NA
    dur = pd.array(rng.integers(30_000, 600_000, n), dtype="Int64")
    dur[rng.random(n) < 0.005] = pd.NA
    return pd.DataFrame({
        "id": np.arange(n),
        "track_id": _ids(rng, n),
        "artists": _with_nulls(rng, [f"Artist {a}" for a in rng.integers(0, 30_000, n)], 0.01),
        "album_name": [f"Album {a}" for a in rng.integers(0, 60_000, n)],
        "track_name": _with_nulls(rng, names[rng.integers(0, len(names), n)], 0.005),
        "popularity": pop,
        "duration_ms": dur,
        "explicit": np.where(rng.random(n) < 0.1, "True", "False"),
        "danceability": rng.random(n).round(3),
        "energy": rng.random(n).round(3),
        "song_key": rng.integers(0, 12, n),
        "loudness": (-30 * rng.random(n)).round(3),
        "mode": rng.integers(0, 2, n),
        "speechiness": rng.random(n).round(3),
        "acousticness": rng.random(n).round(3),
        "instrumentalness": rng.random(n).round(3),
        "liveness": rng.random(n).round(3),
        "valence": rng.random(n).round(3),
        "tempo": (60 + 140 * rng.random(n)).round(3),
        "time_signature": rng.integers(3, 6, n),
        "track_genre": genres,
    })


def users_frame(rng):
    return pd.DataFrame({
        "user_id": np.arange(1, N_USERS + 1),
        "user_name": [f"user_{u}" for u in range(1, N_USERS + 1)],
        "user_age": rng.integers(16, 80, N_USERS),
        "user_country": rng.choice(["NG", "GH", "US", "GB", "DE", "BR", "IN"], N_USERS),
        "created_at": (BASE_DAY - rng.integers(30, 2000, N_USERS)).astype(str),
    })


class Plays:
    """Draws stream rows: Zipf-ranked tracks over a seeded permutation."""

    def __init__(self, rng, track_ids):
        self.rng = rng
        self.track_ids = np.array(track_ids)[rng.permutation(len(track_ids))]
        rank = np.arange(1, len(track_ids) + 1, dtype=float)
        self.p = rank ** -1.05
        self.p /= self.p.sum()
        self.hour_p = HOUR_WEIGHTS / HOUR_WEIGHTS.sum()

    def rows(self, day_counts):
        """day_counts: [(day_index, n)] -> shuffled frame of n rows per day."""
        rng = self.rng
        days = np.concatenate([np.full(n, d) for d, n in day_counts])
        n = len(days)
        tracks = self.track_ids[rng.choice(len(self.track_ids), n, p=self.p)]
        unknown = rng.random(n) < 0.02
        # 21 characters, so an unknown id never collides with a 22-char song id
        tracks[unknown] = _ids(rng, unknown.sum(), 21)
        secs = rng.choice(24, n, p=self.hour_p) * 3600 + rng.integers(0, 3600, n)
        times = DAY_STR[days] + TOD_STR[secs]
        bad = rng.random(n) < 0.01
        times[bad] = BAD_TIMES[rng.integers(0, len(BAD_TIMES), bad.sum())]
        # user ids are skewed too: a few heavy listeners, a long tail
        users = np.minimum(rng.zipf(1.3, n), N_USERS)
        users = np.where(rng.random(n) < 0.5, rng.integers(1, N_USERS + 1, n), users)
        order = rng.permutation(n)
        return pd.DataFrame({"user_id": users[order], "track_id": tracks[order],
                             "listen_time": times[order]})


def _write(df, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    csv.write_csv(table, path, csv.WriteOptions(quoting_style="none"))


def write_dimensions(rng, root):
    songs = songs_frame(rng)
    _write(songs, f"{root}/songs.csv")
    _write(users_frame(rng), f"{root}/users.csv")
    return songs


def generate_daily(seed, root, days, rows_per_day, files_per_day=3, late_share=0.03):
    """One landed directory per arrival day; day d's files also carry a
    share of day d-1's events (late arrivals). Returns the manifest."""
    rng = np.random.default_rng(seed)
    songs = write_dimensions(rng, root)
    plays = Plays(rng, songs["track_id"])
    manifest = []
    for d in range(days):
        late = int(rows_per_day * late_share) if d > 0 else 0
        df = plays.rows([(d, rows_per_day - late)] + ([(d - 1, late)] if late else []))
        glob = f"{root}/landed/day_{d:02d}/*.csv"
        cut = np.linspace(0, len(df), files_per_day + 1).astype(int)
        for i in range(files_per_day):
            _write(df.iloc[cut[i]:cut[i + 1]], f"{root}/landed/day_{d:02d}/batch_{i}.csv")
        manifest.append({"glob": glob, "rows": len(df)})
    return manifest

