"""Seeded inputs of the serve_refresh workload.

Writes, under <out_dir>:
  fixtures/            the cadence flows' sources in the fixture dialects
                       (comma and semicolon CSVs, mixed date formats) plus
                       an empty news_landing/ the JVM lands tick files into
  ticks/<g>/*.json     NDJSON news landing files for cadence tick g, with
                       a stated share of duplicates (an earlier record's
                       (link, date) again) and of late events (dated days
                       behind the tick, still inside the 7-day watermark)
  expected.json        per tick, the distinct (link, date) pairs landed so
                       far: the news lake's row count after that tick
  requests.json        the operation sequence of each load segment

The repository's own fixtures/ directory supplies the static fixture
files (BPE merges and the like) that graft reads at start-up.

Usage: python3 perfbench/gen_serve.py <out_dir> <seed> [n_operations]
"""
import datetime as dt
import json
import os
import random
import shutil
import sys
from urllib.parse import quote

from gen_tables import WORDS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

NEWS_WORDS = ("vaccine hospital cases rollout wave variant lockdown region test "
              "booster clinic health minister school border travel mask data "
              "report study rise drop week city rural nurse doctor trial dose").split()
# catalog_short entries whose answers are small and fully ordered
QUERY_ENTRIES = ["evt_percentile_ranks", "geo_centroid", "rel_revenue_agg"]
SQL = ["SELECT COUNT(*) AS n FROM cases",
       "SELECT source_index, COUNT(*) AS n FROM cases GROUP BY source_index ORDER BY source_index"]
# Operations, as shares of the load. A keystroke is what the server's own
# search page (Serve.scala, /ui) sends after each debounced input: /search
# with the typed text, then /suggest with its last term, one after the
# other; so /search and /suggest come 1:1. The repository has no client
# for /ann or /sql and the dashboard's /query panels load once per page
# view, so those three get a stated 10 % each.
MIX = {"keystroke": 0.7, "ann": 0.1, "query": 0.1, "sql": 0.1}
SIZES = {"countries": 40, "cases_rows": 600, "vaccination_rows": 300, "france_rows": 600,
         "virtests_rows": 600, "ticks": 16, "news_per_tick": 200, "dup_share": 0.15,
         "late_share": 0.10, "distinct_keystrokes": 6, "distinct_ann": 3}
DAY0 = dt.date(2021, 3, 1)


def _country(i):
    iso2 = chr(65 + i // 26) + chr(65 + i % 26)
    return {"UID": 1000 + i, "iso2": iso2, "iso3": iso2 + "X", "name": f"Land{i:02d}",
            "lat": round(-60 + 3.1 * i, 4), "lon": round(-170 + 8.3 * i, 4),
            "pop": 1_000_000 + 37_000 * i}


def _csv(path, sep, header, rows):
    with open(path, "w") as fh:
        fh.write(sep.join(header) + "\n")
        for r in rows:
            fh.write(sep.join(str(x) for x in r) + "\n")


def _date_variants(rng, d):
    """One date in the dialects the ingest date cascade accepts."""
    k = rng.random()
    if k < 0.6:
        return d.isoformat()
    if k < 0.85:
        return d.strftime("%d/%m/%Y")
    y, w, _ = d.isocalendar()
    return f"{y}-W{w:02d}"


def write_fixtures(root, rng, base):
    """The repository's static fixture files (`base`), with the cadence
    flows' sources replaced by generated ones and no news landed yet."""
    fx = os.path.join(root, "fixtures")
    shutil.copytree(base, fx, ignore=shutil.ignore_patterns("news_landing"))
    os.makedirs(os.path.join(fx, "news_landing"))
    cs = [_country(i) for i in range(SIZES["countries"])]
    _csv(os.path.join(fx, "geo_lookup.csv"), ",",
         ["UID", "iso2", "iso3", "code3", "FIPS", "Admin2", "Province_State", "Country_Region",
          "Lat", "Long_", "Combined_Key", "Population"],
         [[c["UID"], c["iso2"], c["iso3"], c["UID"], "", "", "", c["name"], c["lat"], c["lon"],
           c["name"], c["pop"]] for c in cs])
    names = [c["name"] for c in cs] + ["Atlantis"]  # an unresolvable location is dropped

    def day():
        return DAY0 - dt.timedelta(days=rng.randrange(400))
    _csv(os.path.join(fx, "contamination_a.csv"), ",",
         ["dateRep", "countriesAndTerritories", "cases", "popData2020"],
         [[_date_variants(rng, day()), rng.choice(names), rng.randrange(0, 50000),
           rng.choice([c["pop"] for c in cs])] for _ in range(SIZES["cases_rows"])])
    _csv(os.path.join(fx, "vaccination_b.csv"), ";",
         ["YearWeekISO", "ReportingCountry", "NumberDosesReceived", "population"],
         [["%d-W%02d" % day().isocalendar()[:2], rng.choice(names), rng.randrange(0, 900000),
           rng.choice([0] + [c["pop"] for c in cs])] for _ in range(SIZES["vaccination_rows"])])
    deps = [f"{i:02d}" for i in range(1, 96)]
    _csv(os.path.join(fx, "france_c.csv"), ",",
         ["granularite", "maille_code", "maille_nom", "date", "cas_confirmes", "deces"],
         [(["departement", f"DEP-{d}", f"Dep{d}"] if rng.random() < 0.8 else
           ["region", f"REG-{d}", f"Reg{d}"]) +
          [day().isoformat(), rng.randrange(0, 20000), rng.randrange(0, 500)]
          for d in (rng.choice(deps) for _ in range(SIZES["france_rows"]))])
    _csv(os.path.join(fx, "france_virtests_d.csv"), ";", ["dep", "jour", "t", "pop"],
         [[rng.choice(deps), _date_variants(rng, day()), rng.randrange(0, 9000),
           rng.randrange(100000, 2500000)] for _ in range(SIZES["virtests_rows"])])


def _news(rng, tick, j, date):
    site = f"site{rng.randrange(12)}.example"
    return {"title": " ".join(rng.choice(NEWS_WORDS) for _ in range(rng.randrange(4, 10))),
            "desc": " ".join(rng.choice(NEWS_WORDS) for _ in range(12)),
            "date": date.strftime("%Y-%m-%dT%H:%M:%S"),
            "link": f"https://{site}/t{tick}/n{j}", "img": "", "lang": rng.choice(["en", "fr"]),
            "source": {"crawler": "googlenews", "website": site, "author": f"a{rng.randrange(50)}",
                       "url": f"https://{site}", "tweet": None}}


def write_ticks(root, rng):
    """News landing files per tick; returns the cumulative distinct count."""
    seen, landed, expected = set(), [], []
    per = SIZES["news_per_tick"]
    for g in range(SIZES["ticks"]):
        base = dt.datetime.combine(DAY0 + dt.timedelta(days=g), dt.time())
        recs = []
        for j in range(per):
            k = rng.random()
            if k < SIZES["dup_share"] and landed:
                recs.append(dict(rng.choice(landed[-2 * per:]), title="re-crawled " + NEWS_WORDS[g]))
                continue
            lag = rng.uniform(3, 5) if k < SIZES["dup_share"] + SIZES["late_share"] else rng.uniform(0, 2)
            recs.append(_news(rng, g, j, base - dt.timedelta(days=lag, seconds=rng.randrange(86400))))
        for r in recs:
            if (r["link"], r["date"]) not in seen:
                seen.add((r["link"], r["date"]))
                landed.append(r)
        d = os.path.join(root, "ticks", str(g))
        os.makedirs(d, exist_ok=True)
        half = len(recs) // 2
        for name, part in (("a", recs[:half]), ("b", recs[half:])):
            with open(os.path.join(d, f"news_{g:03d}_{name}.json"), "w") as fh:
                fh.writelines(json.dumps(r) + "\n" for r in part)
        expected.append(len(seen))
    return expected


def keystroke(typed):
    """The search page's two requests for one input: the whole text at its
    page size of 8, then completions of the last (partly typed) term."""
    return [f"/search?q={quote(typed)}&size=8", f"/suggest?q={quote(typed.split()[-1])}"]


def request_pools(rng):
    """The distinct operations of one run, each a list of URLs fetched in
    turn on one connection: seeded typed texts (a word, then the first
    letters of another) and ids; every /query entry and /sql statement."""
    long_words = [w for w in WORDS if len(w) > 3]
    return {
        "keystroke": [keystroke(f"{a} {b[:rng.randrange(2, len(b) + 1)]}")
                      for a, b in (rng.sample(long_words, 2)
                                   for _ in range(SIZES["distinct_keystrokes"]))],
        "ann": [[f"/ann?id={i}&k=10"] for i in rng.sample(range(2000), SIZES["distinct_ann"])],
        "query": [[f"/query/{n}?limit=50"] for n in QUERY_ENTRIES],
        "sql": [[f"/sql?q={quote(s, safe='')}"] for s in SQL],
    }


def request_sequence(pools, n):
    """Operations in one fixed interleaving that keeps every stretch of the
    run at MIX (the kind furthest below its share goes next), each kind's
    pool used in turn. The seed acts through the pools' texts and ids, not
    through the order or amount of work, so which operations overlap a
    tick does not change from seed to seed."""
    seq, used = [], dict.fromkeys(MIX, 0)
    for i in range(n):
        k = max(MIX, key=lambda k: MIX[k] * (i + 1) - used[k])
        seq.append([k, pools[k][used[k] % len(pools[k])]])
        used[k] += 1
    return seq


def write(root, seed, n_ops, segments=1, base=None):
    rng = random.Random(seed)
    write_fixtures(root, rng, base or os.path.join(ROOT, "fixtures"))
    expected = write_ticks(root, rng)
    pools = request_pools(rng)
    reqs = [request_sequence(pools, n_ops) for _ in range(segments)]
    with open(os.path.join(root, "expected.json"), "w") as fh:
        json.dump({"news_rows_after_tick": expected}, fh)
    with open(os.path.join(root, "requests.json"), "w") as fh:
        json.dump({"pools": pools, "segments": reqs}, fh)
    return pools, reqs, expected


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 200)
