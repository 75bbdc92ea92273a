"""Seeded input generators for the benchmark workloads.

Everything here is pure Python/NumPy/pyarrow: the engine under test only
ever sees the files written. The same ``seed`` always gives byte-identical
files (fixed zip timestamps, no wall-clock values, no dict-order
dependence), so two runs of one seed measure the same inputs.

- :func:`write_tables` — the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings``, one parquet file per table, with the
  column names, types and value domains the graded queries read.
- :class:`NightlyInbox` — the reference's nightly inbox: a ``;``-separated
  comma-decimal transactions CSV, a terminals ``.xlsx`` snapshot with SCD2
  churn and a cumulative passport-blacklist ``.xlsx`` per day, plus the
  external ``bank.*`` dimensions with planted fraud triggers and a hot card.
"""

from __future__ import annotations

import datetime as dt
import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "nut", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMBED_DIM = 64

_EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")


def rng(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream...) so adding a table
    or a day never shifts the values of another."""
    return np.random.default_rng([seed, *stream])


def _cents(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """2-decimal doubles: the queries cast them to DECIMAL(18,2) and rely
    on that being lossless."""
    return r.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _ts(days: np.ndarray, base: str) -> pa.Array:
    us = (np.datetime64(base, "us") - _EPOCH_US).astype(np.int64)
    return pa.array(us + (days * 86_400_000_000).astype(np.int64), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _texts(r: np.random.Generator, n: int) -> list[str]:
    lengths = r.integers(8, 96, n)
    words = r.integers(0, len(VOCAB), int(lengths.sum()))
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    return out


def documents(seed: int, n: int) -> dict[str, list]:
    """``n`` documents over the 30-word vocabulary; about 5% are near-dup
    copies of an earlier document (last word replaced by ``dup``) and a
    few are exact copies, like the graded fixture table."""
    r = rng(seed, 7)
    text = _texts(r, n)
    for i in range(1, n):
        u = r.random()
        src = int(r.integers(0, i))
        if u < 0.05:
            text[i] = text[src].rsplit(" ", 1)[0] + " dup"
        elif u < 0.052:
            text[i] = text[src]
    return {
        "doc_id": list(range(n)),
        "text": text,
        "lang": [LANGS[k] for k in r.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten graded tables at scale factor ``sf`` (lineitem has
    6M·sf rows)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = rng(seed, 1)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[k] for k in r.integers(0, 5, n_cust)],
    })
    r = rng(seed, 2)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(r, -999.99, 9999.99, n_supp),
    })
    r = rng(seed, 3)
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{k}" for k in r.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[k] for k in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [900.0 + (i % 1000) / 10.0 for i in range(n_part)],
    })
    r = rng(seed, 4)
    order_day = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[k] for k in r.integers(0, 3, n_ord)],
        "o_totalprice": _cents(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(order_day, "1995-01-01"),
        "o_orderpriority": [PRIORITIES[k] for k in r.integers(0, 5, n_ord)],
    })
    r = rng(seed, 5)
    l_ord = r.integers(0, n_ord, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in r.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[k] for k in r.integers(0, 2, n_li)],
        "l_shipdate": _ts(order_day[l_ord] + r.integers(1, 122, n_li), "1995-01-01"),
    })
    r = rng(seed, 6)
    # increasing timestamps over 30 days with microsecond fractions
    gaps = r.exponential(1.0, n_ev)
    frac = np.cumsum(gaps) / gaps.sum() * 0.9999
    ev_us = (np.datetime64("2024-01-01", "us") - _EPOCH_US).astype(np.int64) + (
        frac * 30 * 86_400_000_000
    ).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[k] for k in r.integers(0, 5, n_ev)],
        "value": _cents(r, 0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    docs = documents(seed, n_docs)
    docs["n_chars"] = pa.array([len(t) for t in docs["text"]], pa.int64())
    docs["doc_id"] = pa.array(docs["doc_id"], pa.int64())
    _write(out_dir, "documents", docs)
    r = rng(seed, 8)
    emb = r.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
    })


# ---------------------------------------------------------------------------
# Nightly ETL inbox (reference file formats)
# ---------------------------------------------------------------------------

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_EXCEL_EPOCH = dt.date(1899, 12, 30)


def _cell(ref: str, v) -> str:
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"><v>{v}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'


def write_xlsx(path: str, header: list[str], rows: list[list]) -> None:
    """A one-sheet OOXML workbook written with stdlib ``zipfile``: inline
    strings, numeric cells (dates as Excel serials) and 17 trailing
    styled-blank rows, the quirks the reference files carry (the shipped
    day-1 blacklist has 17, SURVEY.md §1.4 item 4). Fixed zip
    timestamps keep the bytes a function of the content."""
    cols = [chr(ord("A") + i) for i in range(len(header))]
    body = []
    for ri, row in enumerate([header, *rows], start=1):
        cells = "".join(_cell(f"{c}{ri}", v) for c, v in zip(cols, row))
        body.append(f'<row r="{ri}">{cells}</row>')
    for ri in range(len(rows) + 2, len(rows) + 19):
        body.append(f'<row r="{ri}"><c r="A{ri}" s="1"/></row>')
    sheet = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_NS}"><sheetData>{"".join(body)}</sheetData></worksheet>'
    )
    members = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{_NS}" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": sheet,
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in members.items():
            z.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), data)


def card_number(i: int) -> str:
    return f"4{i % 997:03d} {i // 10000 % 10000:04d} {i % 10000:04d} {i % 9973:04d}"


def passport(i: int) -> str:
    return f"{i % 10000:04d} {i:06d}"


CITIES = [
    "Москва", "Санкт-Петербург", "Новосибирск", "Екатеринбург", "Казань",
    "Нижний Новгород", "Челябинск", "Самара", "Омск", "Ростов-на-Дону",
    "Уфа", "Красноярск", "Воронеж", "Пермь", "Волгоград", "Кемерово",
]
STREETS = [
    "ул. Ленина", "ул. Мира", "пр. Победы", "ул. Гагарина", "ул. Советская",
    "1-й Электрозаводский пер.", "ул. Садовая", "наб. Реки", "ул. Лесная",
]


class NightlyInbox:
    """The reference's nightly deliveries for consecutive days from
    2021-03-01 (day 1), scaled ``factor``× its volume.

    The shapes follow the statistics recorded from the shipped reference
    days (FIXTURES.md §1-3, SURVEY.md §1.4): ~15.7k transactions and ~150
    terminals a day; terminal ids ``[PA]\\d{4}``, ``P`` (POS) terminals
    taking PAYMENT and ``A`` (ATM) terminals WITHDRAW or DEPOSIT; ~90%
    SUCCESS; a cumulative blacklist growing 7 → 15 → 24; terminal churn of
    the shipped day-2/day-3 pattern, repeated (:meth:`terminals`).

    Planted triggers, as tools/scale_smoke_pipeline.py lays them out:
    client ``i`` owns card ``i`` and account ``ACC<i>``; clients
    ``[0, n_bl)`` carry the blacklisted passports, the next ``n_exp``
    have passports that expired before March, the next ``n_exp`` hold
    expired accounts; card 0 is a hot corporate card carrying ~1% of all
    transactions (SCALE.md, pipeline scale smoke).
    """

    TX_PER_DAY_1X = 15_700
    TERMINALS_1X = 150
    #: blacklist rows added on days 1, 2, 3 of the shipped files, and on
    #: each later day (their mean)
    BL_DAYS_1X = (7, 8, 9)
    BL_LATER_1X = 8
    REJECT_SHARE = 0.10
    HOT_SHARE = 0.01
    MAX_DAYS = 366
    HEADER = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"

    def __init__(self, seed: int, factor: float = 1.0):
        self.seed = seed
        self.factor = factor
        self.tx_day = int(self.TX_PER_DAY_1X * factor)
        self.n_cards = max(500, self.tx_day // 8)
        self.n_terminals = max(15, int(self.TERMINALS_1X * factor))
        self.n_bl = max(24, self.n_cards // 1000)
        self.n_exp = self.n_cards // 1000 + 10

    def _scaled(self, n: int) -> int:
        return max(1, round(n * self.factor))

    @staticmethod
    def date(day: int) -> dt.date:
        return dt.date(2021, 3, 1) + dt.timedelta(days=day - 1)

    def processing_ts(self, day: int) -> dt.datetime:
        return dt.datetime.combine(self.date(day), dt.time(23, 50))

    def write_bank(self, out_dir: str) -> None:
        """``clients``/``accounts``/``cards`` parquet, the external
        ``bank.*`` tables the mart joins."""
        os.makedirs(out_dir, exist_ok=True)
        n, bl, ex = self.n_cards, self.n_bl, self.n_exp
        idx = range(n)
        future, exp_p, exp_a = dt.date(2030, 1, 1), dt.date(2021, 2, 15), dt.date(2021, 2, 20)
        _write(out_dir, "clients", {
            "client_id": [f"CL{i:07d}" for i in idx],
            "last_name": [f"Last{i}" for i in idx],
            "first_name": [f"First{i}" for i in idx],
            "patronymic": [f"Mid{i}" for i in idx],
            "passport_num": [passport(i) for i in idx],
            "passport_valid_to": [exp_p if bl <= i < bl + ex else future for i in idx],
            "phone": [f"+7{i:010d}" for i in idx],
        })
        _write(out_dir, "accounts", {
            "account": [f"ACC{i:07d}" for i in idx],
            "valid_to": [exp_a if bl + ex <= i < bl + 2 * ex else future for i in idx],
            "client": [f"CL{i:07d}" for i in idx],
        })
        # padded like Oracle CHAR columns: the view joins on trim(card_num)
        _write(out_dir, "cards", {
            "card_num": [card_number(i) + "  " for i in idx],
            "account": [f"ACC{i:07d}" for i in idx],
        })

    def terminals(self, day: int) -> list[list[str]]:
        """Day ``day``'s full snapshot. The shipped files add one terminal
        and change two attributes on day 2, then remove that terminal and
        change one attribute of an already-changed terminal on day 3; every
        later day repeats that pair of days (even days: +1 terminal, 2
        changes; odd days: the previous day's terminal removed, 1 change),
        scaled by ``factor``. A change re-addresses a seeded live terminal
        or moves it to another city; the same terminal can change again."""
        base = rng(self.seed, 20)
        # every terminal that can ever exist, drawn at once so that a
        # terminal's attributes do not depend on ``day``
        n, cap = self.n_terminals, self.n_terminals + self._scaled(1) * self.MAX_DAYS // 2
        if day > self.MAX_DAYS:
            raise ValueError(f"day {day} > {self.MAX_DAYS}")
        nums = base.choice(np.arange(1000, 10_000), cap, replace=False)
        atm = base.random(cap) < 0.5
        city = base.integers(0, len(CITIES), cap)
        street = base.integers(0, len(STREETS), cap)
        house = base.integers(1, 120, cap)
        alive = np.zeros(cap, bool)
        alive[:n] = True
        added = np.arange(0)
        for d in range(2, day + 1):
            r = rng(self.seed, 21, d)
            if d % 2 == 0:
                added = n + self._scaled(1) * (d // 2 - 1) + np.arange(self._scaled(1))
                alive[added] = True
            else:
                alive[added] = False
            live = np.flatnonzero(alive)
            for i in r.choice(live, min(len(live), self._scaled(2 if d % 2 == 0 else 1)), replace=False):
                if r.random() < 0.5:
                    city[i] = (city[i] + r.integers(1, len(CITIES))) % len(CITIES)
                street[i], house[i] = r.integers(0, len(STREETS)), r.integers(1, 120)
        return [
            [
                f"{'A' if atm[i] else 'P'}{nums[i]:04d}",
                "ATM" if atm[i] else "POS",
                CITIES[city[i]],
                f"г. {CITIES[city[i]]}, {STREETS[street[i]]}, д. {house[i]}",
            ]
            for i in np.flatnonzero(alive)
        ]

    def blacklist(self, day: int) -> list[list]:
        """Cumulative blacklist: (Excel-serial date, passport) rows for
        every passport listed on or before ``day``. The planted
        ``[0, n_bl)`` passports arrive over days 1-3 in the shipped
        7:8:9 split; from day 4 on, ``BL_LATER_1X``·factor more clients
        (past the planted ranges) are listed each day."""
        listed, start = {}, 0
        for d, share in enumerate(self.BL_DAYS_1X, start=1):
            stop = start + round(self.n_bl * share / sum(self.BL_DAYS_1X))
            listed.update(dict.fromkeys(range(start, min(stop, self.n_bl)), d))
            start = stop
        first, per_day = self.n_bl + 2 * self.n_exp, self._scaled(self.BL_LATER_1X)
        for d in range(4, day + 1):
            listed.update(dict.fromkeys(range(first + (d - 4) * per_day, first + (d - 3) * per_day), d))
        return [
            [(self.date(d) - _EXCEL_EPOCH).days, passport(i)]
            for i, d in listed.items()
            if d <= day
        ]

    def transactions(self, day: int, terminals: list[list[str]]) -> list[str]:
        """CSV lines (header first) for ``day``; every transaction names
        a terminal of that day's snapshot, with an ``oper_type`` its
        terminal type takes. Amounts (10.00-9,000.00) and the
        WITHDRAW/DEPOSIT split at ATMs are not recorded for the shipped
        days and are drawn uniformly."""
        r = rng(self.seed, 30, day)
        n = self.tx_day
        secs = np.sort(r.integers(0, 86_400, n))
        cards = r.integers(0, self.n_cards, n)
        cards[r.random(n) < self.HOT_SHARE] = 0
        amounts = r.integers(1_000, 900_000, n)
        deposit = r.random(n) < 0.5
        rejects = r.random(n) < self.REJECT_SHARE
        terms = r.integers(0, len(terminals), n)
        base = dt.datetime.combine(self.date(day), dt.time())
        lines = [self.HEADER]
        for k in range(n):
            ts = base + dt.timedelta(seconds=int(secs[k]))
            tid = terminals[terms[k]][0]
            op = "PAYMENT" if tid[0] == "P" else ("DEPOSIT" if deposit[k] else "WITHDRAW")
            lines.append(
                f"{4 * 10**10 + day * 10**8 + k};{ts:%Y-%m-%d %H:%M:%S};"
                f"{amounts[k] // 100},{amounts[k] % 100:02d};"
                f"{card_number(int(cards[k]))};{op};"
                f"{'REJECT' if rejects[k] else 'SUCCESS'};{tid}"
            )
        return lines

    def write_day(self, inbox: str, day: int) -> int:
        """Drop ``day``'s three files into ``inbox``; returns the number
        of transactions written."""
        os.makedirs(inbox, exist_ok=True)
        stamp = f"{self.date(day):%d%m%Y}"  # the reference's DDMMYYYY names
        term = self.terminals(day)
        write_xlsx(
            os.path.join(inbox, f"terminals_{stamp}.xlsx"),
            ["terminal_id", "terminal_type", "terminal_city", "terminal_address"],
            term,
        )
        write_xlsx(
            os.path.join(inbox, f"passport_blacklist_{stamp}.xlsx"),
            ["date", "passport"],
            self.blacklist(day),
        )
        lines = self.transactions(day, term)
        with open(os.path.join(inbox, f"transactions_{stamp}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
        return len(lines) - 1
