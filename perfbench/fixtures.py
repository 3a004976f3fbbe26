#!/usr/bin/env python3
"""Seeded generator of the COVID pipeline's reference inputs, in the CSV
shapes FIXTURES.md documents, so the forecast -> transform -> simulate
chain runs without the reference data.

Usage:
  python3 perfbench/fixtures.py --out DIR --seed N --size LOCATIONSxDAYS

LOCATIONS is the number of weather series (one per country or US state);
DAYS the number of daily COVID columns from 2020-01-22. Admitted series
carry H days of station history ending 2020-02-15, so the 180-day forecast
horizon runs 2020-02-16..2020-08-13 and overlaps the simulator's
2020-02-22..2020-04-20 window across the 2020-03-20 gov_action threshold.

Edge rows on purpose:
  - every fifth location's series is shorter than M rows, so the
    forecast rejects it;
  - non-US stations have a blank state, which becomes 'UNK';
  - location_match renames a legacy country and a province that the
    JHU tables use, and holds one row that matches nothing;
  - province-level JHU rows that the transform rolls up per country, a
    US country-level row, null `recovered` values and a zero-population
    county.

H and M are `history` and `min_rows` of the covid_pipeline workload in
workloads.json. DIR/manifest.json records the sizes the chain's outputs
must match.
"""
import argparse
import csv
import datetime as dt
import json
import math
import os
import random

US_STATES = ["CA", "NY", "TX", "WA", "FL", "IL", "MA", "GA", "PA", "OH", "MI",
             "NJ", "AZ", "CO", "OR", "NV", "MN", "WI", "TN", "MO"]
COVID_START = dt.date(2020, 1, 22)
HISTORY_END = dt.date(2020, 2, 15)


def ymd(d):
    return int(d.strftime("%Y%m%d"))


def write_csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def logistic(t, k, rate, mid):
    return k / (1.0 + math.exp(-rate * (t - mid)))


def generate(out, seed, locations, days, history, min_rows):
    if locations < 4:
        raise SystemExit("need at least 4 locations")
    if history < min_rows:
        raise SystemExit(f"history {history} must reach the admission minimum {min_rows}")
    rnd = random.Random(seed)
    n_us = min(len(US_STATES), max(2, locations // 3))
    n_countries = locations - n_us
    countries = [f"Land {i + 1:02d}" for i in range(n_countries)]
    codes = []
    for i in range(n_countries):
        c = chr(65 + i // 26 % 26) + chr(65 + i % 26)
        codes.append("ZZ" if c == "US" else c)
    states = US_STATES[:n_us]
    dates = [COVID_START + dt.timedelta(days=i) for i in range(days)]
    covid_dir = os.path.join(out, "data", "covid_data")

    # Cumulative confirmed cases follow a logistic curve; removals follow
    # the simulator's own model, d_removed = a + b * lag_confirmed, with a
    # per-unit intercept and slope (its random effects) plus noise; a
    # tenth of the removed are deaths.
    def curves(population):
        k = population * rnd.uniform(0.002, 0.01)
        rate, mid = rnd.uniform(0.08, 0.2), rnd.uniform(35, 60)
        conf = [int(logistic(t, k, rate, mid)) for t in range(days)]
        a, b = rnd.uniform(0, 40), rnd.uniform(0.01, 0.06)
        removed, total = [], 0.0
        for t in range(days):
            if t and conf[t - 1] > 0:
                total += max(0.0, a + b * conf[t - 1] + rnd.gauss(0, 5))
            removed.append(min(int(total), conf[t]))
        death = [r // 10 for r in removed]
        reco = [r - d for r, d in zip(removed, death)]
        return conf, death, reco

    # JHU wide tables: one row per (province, country); some countries
    # report by province, one under a legacy name location_match fixes.
    populations = {c: rnd.randrange(2_000_000, 60_000_000) for c in countries}
    jhu_rows = []  # (province, country, conf, death, reco)
    for i, c in enumerate(countries):
        pop = populations[c]
        if i % 3 == 2:
            for p in ("North", "South"):
                jhu_rows.append((f"{p} {c}", c) + curves(pop // 2))
        elif i == 1:
            jhu_rows.append(("", c) + curves(pop // 2))
            jhu_rows.append(("Prov X", f"Old {c}") + curves(pop // 2))
        elif i == 3:
            jhu_rows.append(("Old Province", c) + curves(pop))
        else:
            jhu_rows.append(("", c) + curves(pop))
    jhu_rows.append(("", "US") + curves(330_000_000))
    date_cols = [f"_{d.month}_{d.day}_{d.strftime('%y')}" for d in dates]
    for measure, idx in (("confirmed", 2), ("death", 3), ("recovered", 4)):
        write_csv(os.path.join(covid_dir, f"jhu_{measure}_covid.csv"),
                  ["province_state", "country_region", "latitude", "longitude",
                   "location_geom"] + date_cols,
                  [[r[0], r[1], round(rnd.uniform(-60, 60), 4),
                    round(rnd.uniform(-180, 180), 4), "POINT(0 0)"] + r[idx]
                   for r in jhu_rows])

    write_csv(os.path.join(covid_dir, "location_match.csv"),
              ["country_region_old", "province_state_old", "country_region_new",
               "province_state_new"],
              [[f"Old {countries[1]}", "Prov X", countries[1], "Prov X"],
               [countries[3], "Old Province", countries[3], "New Province"],
               ["Nowhere", "Nothing", "Nowhere", "Still Nothing"]])

    pop_rows = []
    for i, c in enumerate(countries + ["United States"]):
        pop = populations.get(c, 330_000_000)
        name = c.replace(" ", "_")
        for d in dates[-3:]:
            pop_rows.append([d.isoformat(), d.day, d.month, d.year, 0, 0, 0, 0,
                             name, codes[i] if i < len(codes) else "US",
                             f"C{i:02d}", pop])
    write_csv(os.path.join(covid_dir, "jhu_countries_with_code.csv"),
              ["date", "day", "month", "year", "daily_confirmed_cases",
               "daily_deaths", "confirmed_cases", "deaths",
               "countries_and_territories", "geo_id", "country_territory_code",
               "pop_data_2018"], pop_rows)

    county_rows, us_daily = [], []
    fips = 1000
    for s in states:
        pop = rnd.randrange(1_000_000, 30_000_000)
        for j, share in enumerate((0.5, 0.3, 0.2)):
            fips += 1
            county_rows.append([fips, f"County {j + 1}", s, int(pop * share)])
        fips += 1
        county_rows.append([fips, "Statewide Unallocated", s, 0])
        conf, death, reco = curves(pop)
        for t, d in enumerate(dates):
            us_daily.append([ymd(d), s, conf[t], 0, 0,
                             reco[t] if t >= 20 else "", death[t], 0,
                             conf[t] - conf[t - 1] if t else 0,
                             death[t] - death[t - 1] if t else 0,
                             f"{rnd.getrandbits(40):010x}", f"{d.isoformat()}T20:00:00Z",
                             fips // 4])
    us_daily.sort(key=lambda r: (-r[0], r[1]))
    write_csv(os.path.join(covid_dir, "daily_covid_usstates.csv"),
              ["date", "state", "positive", "negative", "pending", "recovered",
               "death", "hospitalizedCurrently", "positiveIncrease",
               "deathIncrease", "hash", "dateChecked", "fips"], us_daily)
    write_csv(os.path.join(covid_dir, "covid_county_population_usafacts.csv"),
              ["countyFIPS", "County Name", "State", "population"], county_rows)

    # GHCND-like stations and daily TAVG/PRCP; every fifth location's
    # history is too short to admit.
    meta = os.path.join(out, "weather_meta_data")
    write_csv(os.path.join(meta, "ghcnd_countries.csv"), ["code", "name"],
              [[code, f"{c}   "] for code, c in zip(codes, countries)] +
              [["US", "United States   "]])
    units = [(code, "", c) for code, c in zip(codes, countries)] + \
        [("US", s, f"United States : {s}") for s in states]
    short = max(5, min_rows // 3)
    stations, obs = [], {}
    admitted = rejected = 0
    for u, (code, state, _) in enumerate(units):
        n_days = short if u % 5 == 4 else history
        if u % 5 == 4:
            rejected += 1
        else:
            admitted += 1
        base = rnd.uniform(-50, 200)
        for k in range(1 if u % 2 else 2):
            sid = f"{code}{u:03d}{k:04d}"
            stations.append([sid, state])
            for t in range(n_days):
                d = HISTORY_END - dt.timedelta(days=n_days - 1 - t)
                doy = d.timetuple().tm_yday
                tavg = base + 80 * math.sin(2 * math.pi * (doy - 110) / 365) + rnd.gauss(0, 15)
                obs.setdefault(d.year, []).append([sid, ymd(d), "TAVG", round(tavg)])
                if t % 3 == 0:
                    obs[d.year].append([sid, ymd(d), "PRCP", round(rnd.uniform(0, 80))])
    write_csv(os.path.join(meta, "ghcnd_stations.csv"), ["id", "state"], stations)
    for year, rows in sorted(obs.items()):
        write_csv(os.path.join(out, "weather_data", f"ghcnd_{year}.csv"),
                  ["id", "date", "element", "value"], rows)

    manifest = {"seed": seed, "locations": locations, "days": days,
                "history": history, "min_rows": min_rows,
                "series_total": len(units), "series_admitted": admitted,
                "series_rejected": rejected}
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", required=True, help="LOCATIONSxDAYS, e.g. 12x100")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")) as fh:
        cfg = json.load(fh)["workloads"]["covid_pipeline"]
    locations, days = (int(x) for x in a.size.lower().split("x"))
    print(json.dumps(generate(a.out, a.seed, locations, days, cfg["history"], cfg["min_rows"])))


if __name__ == "__main__":
    main()
