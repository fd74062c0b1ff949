"""Seeded inputs for the daily pipeline workloads.

Writes, under one directory:
  streams/streams_00.csv .. streams_03.csv  the 30-day play history
  new/streams_day31.csv                     the next day's file (~1% of plays)
  songs.csv, users.csv                      the two dimension CSVs
  truth.json                                the generator's own counts

The files follow the reference formats (`user_id,track_id,listen_time`
with `yyyy-MM-dd HH:mm:ss`; the 21-column songs and 5-column users
CSVs). Sizes and ratios follow the reference sample data as the
repository's FIXTURES.md measures it (34,038 plays over 18,010 distinct
users and 28,356 distinct tracks; a 50,000-row users CSV, 98% of it one
country; stream user ids that run past the users CSV; a songs CSV in the
shape of the public Spotify-tracks dataset, 114 genres of 1,000 tracks):
  - the song catalogue holds 114,000 tracks and the users CSV 50,000
    users, whatever the play count;
  - track popularity is Zipf-shaped, with the exponent (0.4) that gives
    the reference's 0.83 distinct tracks per play over that catalogue at
    the reference's play count;
  - plays are spread evenly over a pool of active users sized to give
    the reference's 0.53 distinct users per play (at that play count,
    too); the pool is drawn from
    ids up to 55,000, so about 9% of the active users are missing from
    the users CSV and the user left join produces null groups;
  - every 7th track of the catalogue is missing from the songs CSV, so
    the song left join produces null groups too;
  - about 0.1% of stream lines carry an unparseable `listen_time`, so the
    quarantine branch runs, and a few more lack a `track_id`, so the
    null-drop runs.

The same seed gives byte-identical files; `python3 gen.py <dir> <seed>
[plays]` writes them from the command line.
"""
import json
import os
import sys

import numpy as np

DAYS = 30
FILES = 4
GENRES = 114
TRACKS_PER_GENRE = 1_000
USERS = 50_000
USER_ID_MAX = 55_000
TRACK_ZIPF = 0.4
ACTIVE_USERS_PER_PLAY = 0.706
COUNTRIES = ["United States", "New Zealand", "United Kingdom", "Ireland",
             "Australia", "Canada"]
HOME_SHARE = 48_979 / 50_000
DAY0 = np.datetime64("2024-06-01T00:00:00", "s")
CORRUPT_RATE = 0.001
NULL_TRACK_RATE = 0.0003
BASE62 = np.array(list("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"))


def _track_ids(rng, n):
    """22-character base-62 ids, the shape of Spotify track ids."""
    return ["".join(r) for r in BASE62[rng.integers(0, 62, size=(n, 22))].tolist()]


def _stream_lines(rng, n, track_ids, popularity, active_users, t0, span_s):
    tracks = rng.choice(len(track_ids), size=n, p=popularity)
    users = active_users[rng.integers(0, len(active_users), size=n)]
    secs = np.sort(rng.integers(0, span_s, size=n))
    ts = np.datetime_as_string(t0 + secs.astype("timedelta64[s]"), unit="s")
    ts = np.char.replace(ts, "T", " ")
    bad = rng.random(n) < CORRUPT_RATE
    null_track = ~bad & (rng.random(n) < NULL_TRACK_RATE)
    lines = []
    for u, t, s, b, nt in zip(users.tolist(), tracks.tolist(), ts.tolist(),
                              bad.tolist(), null_track.tolist()):
        if b:
            s = "not-a-time" if u % 2 else "2024-13-45 99:99:99"
        lines.append(f"{u},{'' if nt else track_ids[t]},{s}")
    return lines, int(bad.sum()), int(null_track.sum())


def _write_csv(path, header, lines):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(header + "\n")
        f.write("\n".join(lines))
        f.write("\n")


def _songs(rng, track_ids):
    """The catalogue in track order (genre by genre, as in the Spotify
    dataset), without every 7th track."""
    ids = np.arange(len(track_ids))
    keep = ids[ids % 7 != 0]
    m = len(keep)
    dur = rng.integers(90_000, 420_000, size=m)
    pop = rng.integers(0, 101, size=m)
    floats = rng.random((m, 8))
    key = rng.integers(0, 12, size=m)
    mode = rng.integers(0, 2, size=m)
    ts_sig = rng.integers(3, 6, size=m)
    loud = -rng.random(m) * 40
    tempo = 60 + rng.random(m) * 140
    lines = []
    for i in range(m):
        t = int(keep[i])
        f = floats[i]
        # some artist fields are `;`-separated lists, some quoted with a comma
        artists = (f"artist_{t % 997};artist_{t % 389}" if t % 5 == 0 else
                   f"\"artist_{t % 997}, and band\"" if t % 13 == 0 else
                   f"artist_{t % 997}")
        lines.append(
            f"{i},{track_ids[t]},{artists},album_{t % 1999},track name {t},"
            f"{pop[i]},{dur[i]},{'true' if t % 11 == 0 else 'false'},"
            f"{f[0]:.4f},{f[1]:.4f},{key[i]},{loud[i]:.4f},{mode[i]},"
            f"{f[2]:.4f},{f[3]:.4f},{f[4]:.4f},{f[5]:.4f},{f[6]:.4f},"
            f"{tempo[i]:.4f},{ts_sig[i]},genre_{t // TRACKS_PER_GENRE:03d}")
    return lines


def _users(rng):
    ids = np.arange(1, USERS + 1)
    age = rng.integers(18, 80, size=USERS)
    away = rng.random(USERS) >= HOME_SHARE
    ctry = np.where(away, rng.integers(1, len(COUNTRIES), size=USERS), 0)
    created = rng.integers(0, 500, size=USERS)
    base = np.datetime64("2023-01-01", "D")
    dates = np.datetime_as_string(base + created.astype("timedelta64[D]"), unit="D")
    return [f"{u},user {u},{a},{COUNTRIES[c]},{d}"
            for u, a, c, d in zip(ids.tolist(), age.tolist(), ctry.tolist(),
                                  dates.tolist())]


def generate(out_dir, seed, plays):
    """Write every input file for `seed` under `out_dir`; returns the
    generator's own counts (also written to `truth.json`)."""
    rng = np.random.default_rng(seed)
    n_tracks = GENRES * TRACKS_PER_GENRE
    track_ids = _track_ids(rng, n_tracks)
    # Zipf over popularity ranks, with the ranks scattered over the catalogue
    popularity = np.empty(n_tracks)
    popularity[rng.permutation(n_tracks)] = np.arange(1, n_tracks + 1.0) ** -TRACK_ZIPF
    popularity /= popularity.sum()
    active_users = 1 + rng.choice(USER_ID_MAX, replace=False,
                                  size=max(1, round(plays * ACTIVE_USERS_PER_PLAY)))
    os.makedirs(f"{out_dir}/streams", exist_ok=True)
    os.makedirs(f"{out_dir}/new", exist_ok=True)
    corrupt = null_track = 0
    per_file = plays // FILES
    span = DAYS * 86400 // FILES
    for k in range(FILES):
        lines, c, nt = _stream_lines(rng, per_file, track_ids, popularity, active_users,
                                     DAY0 + np.timedelta64(k * span, "s"), span)
        corrupt += c
        null_track += nt
        _write_csv(f"{out_dir}/streams/streams_{k:02d}.csv",
                   "user_id,track_id,listen_time", lines)
    new_lines, new_c, new_nt = _stream_lines(
        rng, max(1, plays // 100), track_ids, popularity, active_users,
        DAY0 + np.timedelta64(DAYS * 86400, "s"), 86400)
    _write_csv(f"{out_dir}/new/streams_day31.csv",
               "user_id,track_id,listen_time", new_lines)
    _write_csv(f"{out_dir}/songs.csv",
               "id,track_id,artists,album_name,track_name,popularity,"
               "duration_ms,explicit,danceability,energy,key,loudness,mode,"
               "speechiness,acousticness,instrumentalness,liveness,valence,"
               "tempo,time_signature,track_genre", _songs(rng, track_ids))
    _write_csv(f"{out_dir}/users.csv",
               "user_id,user_name,user_age,user_country,created_at", _users(rng))
    truth = {
        "seed": seed, "plays": per_file * FILES, "tracks": n_tracks,
        "users": USERS, "corrupt": corrupt, "null_track": null_track,
        "new_plays": len(new_lines), "new_corrupt": new_c,
        "new_null_track": new_nt,
    }
    with open(f"{out_dir}/truth.json", "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 34_000)
