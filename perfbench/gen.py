"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. The program under test receives only these files;
the expectations written next to them (``expected_*``) are what the
output checks compare against, computed here from the generator's own
model of the data, never by the program.
"""

import csv
import json
import os
import random
from datetime import datetime, timedelta

# --- elt_daily -------------------------------------------------------------

ELT_SYMBOLS = 2000
ELT_DAYS = 2  # timed days per episode; day 0 is the bootstrap load
ELT_ICB_CODES = 240
ELT_CHANGE_SHARE = 0.05
ELT_NEW_SHARE = 0.01
ELT_DUP_SHARE = 0.02
ELT_PAD_SHARE = 0.03
ELT_NONPOS_SHARE = 0.005
ELT_NULL_ROWS_SHARE = 0.002
ELT_RENAMES_PER_DAY = 3
ELT_BASE_DAY = datetime(2024, 3, 1, 18, 0, 0)

COMPANY_HEADER = ["symbol", "organ_name", "icb_code1", "icb_code2", "icb_code3",
                  "icb_code4", "issue_share"]
INDUSTRY_HEADER = ["icb_code", "level", "icb_name", "en_icb_name"]


def elt_clock(day):
    """Ingest clock of a day's batch: one fixed instant per day."""
    return ELT_BASE_DAY + timedelta(days=day)


def _ts(t):
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _symbol(i):
    """Distinct ticker per index: base-26 letters, padded to three."""
    s = ""
    while True:
        s = chr(ord("A") + i % 26) + s
        i //= 26
        if i == 0:
            return s.rjust(3, "A")


def _write_csv(path, header, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def gen_elt(seed, out_dir):
    """Write company/industry CSVs for days 0..ELT_DAYS and the expected silver
    and gold tables after the last day.

    Day 0 is the full universe; every later day is again a full snapshot
    of the listed universe with ~5% tracked ``issue_share`` changes, ~1%
    new listings, same-day duplicate rows, padded text, non-positive
    shares and all-null rows. A few ICB codes are renamed each day.
    """
    rng = random.Random(seed * 1000003 + 11)
    os.makedirs(out_dir, exist_ok=True)

    codes = ["%04d" % (1000 + 7 * i) for i in range(ELT_ICB_CODES)]
    level = {c: 1 + i % 4 for i, c in enumerate(codes)}
    by_level = {lv: [c for c in codes if level[c] == lv] for lv in range(1, 5)}
    en_name = {c: "Sector %s %s" % (c, rng.choice(["Alpha", "Beta", "Gamma", "Delta"]))
               for c in codes}

    listed = []
    company = {}

    def new_company(i):
        sym = _symbol(i)
        company[sym] = {
            "name": "Company %s JSC" % sym,
            "icb": [rng.choice(by_level[lv]) for lv in range(1, 5)],
            "shares": rng.randrange(1_000_000, 5_000_000_000),
        }
        listed.append(sym)

    for i in range(ELT_SYMBOLS):
        new_company(i)
    next_id = ELT_SYMBOLS

    # model state: current shares per symbol and the silver version history
    current = {}
    versions = {}  # symbol -> list of [shares, start_day, end_day]
    gold = []
    stats = {"rows": [], "changes": [], "new": [], "dups": [], "pads": [],
             "nonpos": [], "null_rows": [], "renames": []}

    for day in range(ELT_DAYS + 1):
        changed = []
        new_syms = []
        renamed = []
        if day > 0:
            for sym in listed:
                if rng.random() < ELT_CHANGE_SHARE:
                    company[sym]["shares"] += rng.randrange(1, 50_000_000)
                    changed.append(sym)
            for _ in range(max(1, int(len(listed) * ELT_NEW_SHARE))):
                new_company(next_id)
                new_syms.append(listed[-1])
                next_id += 1
            for c in rng.sample(codes, ELT_RENAMES_PER_DAY):
                en_name[c] = "Sector %s renamed d%d" % (c, day)
                renamed.append(c)

        rows = []
        valid = {}
        n_dup = n_pad = n_nonpos = 0
        for sym in listed:
            c = company[sym]
            shares = c["shares"]
            nonpos = rng.random() < ELT_NONPOS_SHARE
            if nonpos:
                shares = -rng.randrange(0, 1000)
                n_nonpos += 1
            sym_txt, name_txt = sym, c["name"]
            if rng.random() < ELT_PAD_SHARE:
                sym_txt, name_txt = "  %s " % sym, " %s  " % c["name"]
                n_pad += 1
            row = [sym_txt, name_txt] + c["icb"] + [str(shares)]
            rows.append(row)
            if rng.random() < ELT_DUP_SHARE:
                rows.append(list(row))
                n_dup += 1
            if not nonpos:
                valid[sym] = shares
        n_null = max(1, int(len(listed) * ELT_NULL_ROWS_SHARE))
        for _ in range(n_null):
            rows.insert(rng.randrange(len(rows) + 1), [""] * len(COMPANY_HEADER))
        rng.shuffle(rows)
        _write_csv(os.path.join(out_dir, "company_d%d.csv" % day), COMPANY_HEADER, rows)
        _write_csv(os.path.join(out_dir, "industry_d%d.csv" % day), INDUSTRY_HEADER,
                   [[c, str(level[c]), "Nganh %s" % c, en_name[c]] for c in codes])

        # SCD2 model: a valid row whose shares differ from the current
        # version closes it and opens a new one; rows with non-positive
        # shares are dropped by cleaning and leave the current version
        new_current = []
        for sym, shares in valid.items():
            if current.get(sym) != shares:
                if sym in current:
                    versions[sym][-1][2] = day
                versions.setdefault(sym, []).append([shares, day, None])
                current[sym] = shares
                new_current.append(sym)
        # gold appends the versions opened today, joined with today's names
        for sym in new_current:
            c = company[sym]
            gold.append([sym, c["name"], str(current[sym])]
                        + [en_name[code] for code in c["icb"]] + [_ts(elt_clock(day))])

        stats["rows"].append(len(rows))
        stats["changes"].append(len(changed))
        stats["new"].append(len(new_syms))
        stats["dups"].append(n_dup)
        stats["pads"].append(n_pad)
        stats["nonpos"].append(n_nonpos)
        stats["null_rows"].append(n_null)
        stats["renames"].append(len(renamed))

    silver = []
    for sym in sorted(versions):
        c = company[sym]
        for shares, start, end in versions[sym]:
            silver.append([sym, c["name"]] + c["icb"] + [
                str(shares), _ts(elt_clock(start)),
                "" if end is None else _ts(elt_clock(end)),
                "1" if end is None else "0"])
    _write_csv(os.path.join(out_dir, "expected_silver.csv"),
               ["symbol", "company_name", "icb_code_1", "icb_code_2", "icb_code_3",
                "icb_code_4", "issued_shares", "start_timestamp", "end_timestamp",
                "is_current"], silver)
    _write_csv(os.path.join(out_dir, "expected_gold.csv"),
               ["symbol", "company_name", "issued_shares", "icb_name_1", "icb_name_2",
                "icb_name_3", "icb_name_4", "ingest_timestamp"], sorted(gold))
    meta = {"days": ELT_DAYS, "clocks": [_ts(elt_clock(d)) for d in range(ELT_DAYS + 1)],
            "stats": stats}
    with open(os.path.join(out_dir, "elt.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


# --- stream_candles --------------------------------------------------------

STREAM_SYMBOLS = 200
STREAM_DAYS = 2  # distinct trading days per pass
STREAM_OOO_SHARE = 0.1
STREAM_SETUP_SYMBOLS = 5  # each set-up round streams these symbols of day 0
BARS_HEADER = ["id", "ts", "symbol", "open", "high", "low", "close", "volume"]


def _trading_minutes(day):
    base = datetime(2024, 4, 1) + timedelta(days=day)
    mins = []
    for start, end in (((9, 0), (11, 30)), ((13, 0), (14, 45))):
        t = base.replace(hour=start[0], minute=start[1])
        stop = base.replace(hour=end[0], minute=end[1])
        while t < stop:
            mins.append(t)
            t += timedelta(minutes=1)
    return mins


def gen_stream(seed, out_dir):
    """One CSV of 1-minute OHLCV bars per trading day, in arrival order.

    About 10% of bars are delayed by 10-50 s, so some arrive after the
    symbol's next bar; a delay under a minute keeps every bar inside
    the 1-minute watermark.
    """
    rng = random.Random(seed * 7919 + 3)
    os.makedirs(out_dir, exist_ok=True)
    meta = {"days": []}
    next_id = 1
    for d in range(STREAM_DAYS):
        events = []  # (arrival_key, row)
        for s in range(STREAM_SYMBOLS):
            sym = "S%03d" % s
            price = rng.uniform(10, 200)
            for t in _trading_minutes(d):
                o = price
                c = max(1.0, o * (1 + rng.gauss(0, 0.002)))
                h = max(o, c) * (1 + abs(rng.gauss(0, 0.001)))
                lo = min(o, c) * (1 - abs(rng.gauss(0, 0.001)))
                price = c
                ts = t + timedelta(seconds=rng.randrange(0, 60))
                arrival = ts.timestamp()
                if rng.random() < STREAM_OOO_SHARE:
                    arrival += rng.uniform(10, 50)
                events.append((arrival, next_id, [
                    str(next_id), _ts(ts), sym, "%.4f" % o, "%.4f" % h, "%.4f" % lo,
                    "%.4f" % c, str(rng.randrange(100, 100_000))]))
                next_id += 1
        events.sort(key=lambda e: (e[0], e[1]))
        _write_csv(os.path.join(out_dir, "bars_d%d.csv" % d), BARS_HEADER,
                   [e[2] for e in events])
        if d == 0:
            _write_csv(os.path.join(out_dir, "bars_setup.csv"), BARS_HEADER,
                       [e[2] for e in events if e[2][2] < "S%03d" % STREAM_SETUP_SYMBOLS])
        meta["days"].append({"file": "bars_d%d.csv" % d, "rows": len(events)})
    with open(os.path.join(out_dir, "stream.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


GENERATORS = {"elt_daily": gen_elt, "stream_candles": gen_stream}


def generate(workload, seed, out_dir):
    return GENERATORS[workload](seed, out_dir)
