"""Seeded generator of reference-shaped ETL input.

Writes a song catalog (one JSON object per file under
``song_data/<A>/<B>/<C>/``) and daily line-delimited event logs
(``log_data/<YYYY>/<MM>/<YYYY-MM-DD>-events.json``) in the shape of the
reference's read schemas, and returns the records it wrote so the oracle
can compute the expected star schema without the engine.

Sizes (files, songs, events per file, days) are fixed by the caller; the
seed changes only values. The same seed gives byte-identical files.

Corner cases carried by every dataset:
  * non-NextSong pages (logged-in and logged-out);
  * NextSong events with an empty and with a null userId;
  * a tied maximum ts for one user at the end of every day;
  * users whose level changes between free and paid over time;
  * events whose (song, artist, length) matches no song;
  * artists repeated across song files, one of them with a second location;
  * events with equal second-truncated start_time;
  * Zipf-skewed user activity.
"""
import datetime as dt
import json
import os
import random

N_USERS = 120
DAY_MS = 86_400_000
PAGES = ["Home", "Settings", "Help", "Logout", "Upgrade", "Downgrade", "About"]
AGENTS = [
    "Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_9_4) AppleWebKit/537.78.2",
    "Mozilla/5.0 (X11; Linux x86_64; rv:31.0) Gecko/20100101 Firefox/31.0",
]
CITIES = ["Atlanta, GA", "Chicago, IL", "Portland, OR", "Tampa, FL",
          "San Jose, CA", "Lansing, MI", "Boston, MA", None]
WORDS = ["Love", "Night", "Blue", "Fire", "Dream", "Rain", "Road", "Heart",
         "Light", "Gold", "Wild", "River", "Echo", "Stone", "Ghost", "Sky"]
LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

LOG_FIELDS = ["artist", "auth", "firstName", "gender", "itemInSession",
              "lastName", "length", "level", "location", "method", "page",
              "registration", "sessionId", "song", "status", "ts",
              "userAgent", "userId"]


def _dumps(obj):
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def _name(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _song_dir(i):
    # Fan-out is a function of the index only, so the directory count
    # (and with it the listing cost) does not depend on the seed.
    return "%s/%s/%s" % (LETTERS[i % 2], LETTERS[(i // 2) % 10], LETTERS[(i // 20) % 10])


def gen_songs(rng, n_songs):
    n_artists = max(2, n_songs // 3)
    artists = []
    for a in range(n_artists):
        located = rng.random() < 0.6
        artists.append({
            "artist_id": "AR%05d%s" % (a, "".join(rng.choice(LETTERS) for _ in range(6))),
            "artist_latitude": "%.5f" % rng.uniform(-60, 60) if located else None,
            "artist_longitude": "%.5f" % rng.uniform(-150, 150) if located else None,
            "artist_location": rng.choice(CITIES),
            "artist_name": "%s %d" % (_name(rng, 2), a),
        })
    songs = []
    for i in range(n_songs):
        a = artists[i % n_artists] if i < n_artists else artists[rng.randrange(n_artists)]
        if i == n_songs - 1:
            # The same artist id under a second location: the artists
            # dimension keeps both rows and every song of that artist joins
            # twice in the fact table.
            a = dict(artists[0], artist_location="Nowhere, ZZ")
        songs.append(dict(a, **{
            "song_id": "SO%06d%s" % (i, "".join(rng.choice(LETTERS) for _ in range(4))),
            "title": "%s %d" % (_name(rng, rng.randint(1, 3)), i),
            "duration": round(rng.uniform(60.0, 600.0), 5),
            "year": rng.choice([0, 0] + list(range(1960, 2019))),
        }))
    return songs


def write_songs(root, songs):
    for i, s in enumerate(songs):
        d = os.path.join(root, "song_data", _song_dir(i))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "TR%06d.json" % i), "w") as f:
            f.write(_dumps(s))


class Users:
    def __init__(self, rng):
        self.rng = rng
        self.ids = [str(i + 2) for i in range(N_USERS)]
        self.first = {u: rng.choice(["Ada", "Ben", "Cleo", "Dev", "Eve", "Finn", "Gus", "Hana"]) for u in self.ids}
        self.last = {u: rng.choice(["Lee", "Moss", "Kent", "Ray", "Diaz", "Wolfe"]) for u in self.ids}
        self.gender = {u: rng.choice("MF") for u in self.ids}
        self.reg = {u: float(1_530_000_000_000 + rng.randrange(10**10)) for u in self.ids}
        self.city = {u: rng.choice(CITIES[:-1]) for u in self.ids}
        self.agent = {u: rng.choice(AGENTS) for u in self.ids}
        # Zipf weights over a seeded permutation: a few users dominate.
        order = self.ids[:]
        rng.shuffle(order)
        self.weights = [1.0 / (r + 1) ** 1.1 for r in range(N_USERS)]
        self.order = order
        self.level = {u: rng.choice(["free", "paid"]) for u in self.ids}

    def pick(self):
        return self.rng.choices(self.order, weights=self.weights)[0]

    def level_at(self, u):
        # Levels change over time: a seeded share of events flips them.
        if self.rng.random() < 0.02:
            self.level[u] = "paid" if self.level[u] == "free" else "free"
        return self.level[u]


def _event(users, rng, u, ts, page, song=None):
    e = {
        "artist": None, "auth": "Logged In", "firstName": users.first[u],
        "gender": users.gender[u], "itemInSession": rng.randrange(120),
        "lastName": users.last[u], "length": None, "level": users.level_at(u),
        "location": users.city[u], "method": "PUT" if page == "NextSong" else "GET",
        "page": page, "registration": users.reg[u], "sessionId": rng.randrange(1, 2000),
        "song": None, "status": 200, "ts": float(ts), "userAgent": users.agent[u],
        "userId": u,
    }
    if song is not None:
        e["artist"], e["song"], e["length"] = song
    return e


def _anonymous(rng, ts, user_id, page):
    return {
        "artist": None, "auth": "Logged Out", "firstName": None, "gender": None,
        "itemInSession": rng.randrange(10), "lastName": None, "length": None,
        "level": "free", "location": None, "method": "GET", "page": page,
        "registration": None, "sessionId": rng.randrange(1, 2000), "song": None,
        "status": 200, "ts": float(ts), "userAgent": None, "userId": user_id,
    }


def _play(rng, songs):
    s = rng.choice(songs)
    r = rng.random()
    if r < 0.6:
        return (s["artist_name"], s["title"], s["duration"])
    if r < 0.8:
        # Same song and artist, length off by a little: no match.
        return (s["artist_name"], s["title"], round(s["duration"] + 0.5, 5))
    return ("%s X" % _name(rng, 2), "%s Z" % _name(rng, 2), round(rng.uniform(60, 600), 5))


def gen_day(rng, users, songs, day, n_events):
    """Events of one UTC day, sorted by ts, exactly ``n_events`` long."""
    base = int(dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc).timestamp()) * 1000
    evs = []
    fixed = 6
    for _ in range(n_events - fixed):
        ts = base + rng.randrange(DAY_MS - 1000)
        r = rng.random()
        if r < 0.80:
            evs.append(_event(users, rng, users.pick(), ts, "NextSong", _play(rng, songs)))
        elif r < 0.95:
            evs.append(_event(users, rng, users.pick(), ts, rng.choice(PAGES)))
        else:
            evs.append(_anonymous(rng, ts, "", rng.choice(["Home", "Login", "About"])))
    # NextSong with an empty and with a null userId: kept in songplays and
    # time, dropped from users.
    ts = base + rng.randrange(DAY_MS - 1000)
    evs.append(_anonymous(rng, ts, "", "NextSong"))
    evs[-1].update(zip(("artist", "song", "length"), _play(rng, songs)))
    ts = base + rng.randrange(DAY_MS - 1000)
    evs.append(_anonymous(rng, ts, None, "NextSong"))
    evs[-1].update(zip(("artist", "song", "length"), _play(rng, songs)))
    # Two plays inside one second: one time_table row.
    ts = base + rng.randrange(DAY_MS - 2000) // 1000 * 1000
    u = users.pick()
    evs.append(_event(users, rng, u, ts + 120, "NextSong", _play(rng, songs)))
    evs.append(_event(users, rng, u, ts + 870, "NextSong", _play(rng, songs)))
    # The day's last two plays share one ts for one user: a tied max.
    u = users.pick()
    ts = base + DAY_MS - 500
    evs.append(_event(users, rng, u, ts, "NextSong", _play(rng, songs)))
    evs.append(_event(users, rng, u, ts, "NextSong", _play(rng, songs)))
    evs.sort(key=lambda e: e["ts"])
    return evs


def log_path(day):
    return "log_data/%04d/%02d/%s-events.json" % (day.year, day.month, day.isoformat())


def write_log(path, events, truncate_rng=None):
    """One line per event; with ``truncate_rng`` the last line is cut in
    the middle and the file ends without a newline (an interrupted
    upload)."""
    lines = [_dumps(e) for e in events]
    text = "\n".join(lines) + "\n"
    if truncate_rng is not None:
        last = lines[-1]
        cut = truncate_rng.randrange(len(last) // 4, 3 * len(last) // 4)
        text = "\n".join(lines[:-1]) + "\n" + last[:cut]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def full_dataset(root, seed, n_songs, days, events_per_day):
    """Batch-mode input under ``root``: the catalog plus one log file per
    day. Returns (songs, events)."""
    rng = random.Random(seed)
    songs = gen_songs(rng, n_songs)
    write_songs(root, songs)
    users = Users(rng)
    events = []
    for day in days:
        evs = gen_day(rng, users, songs, day, events_per_day)
        write_log(os.path.join(root, log_path(day)), evs)
        events.extend(evs)
    return songs, events


def incremental_dataset(root, seed, n_files, events_per_file, first_day, n_truncated):
    """Per-upload input: ``n_files`` daily logs flat under ``root``. A
    seeded set of ``n_truncated`` files, never the last, is cut mid-line.
    Returns (files, truncated) where files is [(name, events)] in upload
    order."""
    rng = random.Random(seed)
    songs = gen_songs(rng, 300)
    users = Users(rng)
    truncated = set(rng.sample(range(n_files - 1), n_truncated))
    files = []
    for i in range(n_files):
        day = first_day + dt.timedelta(days=i)
        name = "%s-events.json" % day.isoformat()
        evs = gen_day(rng, users, songs, day, events_per_file)
        write_log(os.path.join(root, name), evs, rng if i in truncated else None)
        files.append((name, evs))
    return files, {files[i][0] for i in truncated}


def every_nth_day(first, last, step):
    out, d = [], first
    while d <= last:
        out.append(d)
        d += dt.timedelta(days=step)
    return out
