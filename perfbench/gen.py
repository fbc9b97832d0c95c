"""Seeded synthetic feeds for the fraud-ETL benchmark.

Writes the three daily feed formats the pipeline ingests plus the seed
DML script for the static dimensions:

- ``transactions_DDMMYYYY.txt``: ``;``-separated CSV with a header and
  decimal-comma amounts;
- ``terminals_DDMMYYYY.xlsx``: the full terminal snapshot (daily adds,
  deletes and address changes), written with stdlib ``zipfile``;
- ``passport_blacklist_DDMMYYYY.xlsx``: the cumulative blacklist with
  Excel-serial dates, some entries backdated, and trailing all-NULL
  styled rows;
- ``ddl_dml.sql``: ``insert into <t> (...) values (...);`` rows for
  cards, accounts and clients.

Everything derives from one integer seed through numpy's PCG64, so the
same seed and sizes give byte-identical files. The generator also keeps
the rows it wrote (``DayFeed``) so the correctness gate can feed the
DuckDB oracle without going through the engine's readers.

Planted positives, per day:
- rule 1: clients whose passport expires inside the run, and blacklisted
  passports (cumulative; one of each day's new entries backdated a day);
- rule 2: accounts whose contract ends inside the run;
- rule 3: ``HOP_RATE`` of the day's base transactions get a follow-up
  transaction on the same card in another city within the hour (every
  card has a home city and shops only there otherwise);
- rule 4: ``GUESS_RATE`` of the day's base transactions seed a
  REJECT, REJECT, SUCCESS run of decreasing amounts within 20 minutes.
Planted cards and clients come from the unpopular tail of the Zipf card
popularity, so the share of flagged transactions stays at a few percent.
"""

from __future__ import annotations

import dataclasses
import datetime
import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pandas as pd

START = datetime.date(2021, 3, 1)
EXCEL_EPOCH = datetime.date(1899, 12, 30)
CITIES = (
    "Москва", "Санкт-Петербург", "Новосибирск", "Екатеринбург", "Казань",
    "Нижний Новгород", "Челябинск", "Самара", "Омск", "Ростов-на-Дону",
    "Уфа", "Красноярск", "Воронеж", "Пермь", "Волгоград", "Кемерово",
)
STREETS = ("Ленина", "Мира", "Гагарина", "Советская", "Садовая", "Лесная",
           "Школьная", "Новая", "Центральная", "Молодёжная")
LAST = ("Иванов", "Смирнов", "Кузнецов", "Попов", "Васильев", "Петров",
        "Соколов", "Михайлов", "Новиков", "Фёдоров")
FIRST = ("Александр", "Дмитрий", "Максим", "Сергей", "Андрей", "Алексей",
         "Артём", "Илья", "Кирилл", "Михаил")
PATRONYMIC = ("Александрович", "Дмитриевич", "Сергеевич", "Андреевич",
              "Алексеевич", "Игоревич")
TX_HEADER = ("transaction_id;transaction_date;amount;card_num;oper_type;"
             "oper_result;terminal")
OPER_TYPES = np.array(["PAYMENT", "WITHDRAW", "DEPOSIT"])

# Shape of every world; only the client count and daily volume vary.
N_TERMINALS = 2000
ZIPF_S = 0.8                      # card popularity skew
REJECT_RATE = 0.03
HOP_RATE = 0.002                  # rule 3 plants, share of base transactions
GUESS_RATE = 0.001                # rule 4 plants, share of base transactions
EXPIRED_PASSPORT_FRAC = 0.02      # rule 1 plants, share of cards
INVALID_CONTRACT_FRAC = 0.02      # rule 2 plants, share of cards
BL_NEW_PER_DAY = 4
TERM_ADD_FRAC = 0.004             # daily terminal adds, deletes, moves
TERM_DEL_FRAC = 0.003
TERM_MOVE_FRAC = 0.01


@dataclasses.dataclass
class DayFeed:
    """One day's generated rows (what the feed files hold)."""
    date: datetime.date
    tx: pd.DataFrame          # typed: transaction_date datetime64, amount str
    terminals: list[tuple]    # (terminal_id, type, city, address)
    blacklist: list[tuple]    # (date, passport), cumulative, no blank rows
    blank_rows: int


def _date_sql(d):
    return "null" if d is None else f"'{d.isoformat()}'"


def _str_sql(s):
    return "null" if s is None else "'" + s.replace("'", "''") + "'"


class World:
    """Static dimensions plus the evolving terminal set and blacklist.

    ``day(i)`` must be called for i = 0, 1, 2, ... in order: terminal
    changes and the blacklist accumulate."""

    def __init__(self, seed: int, n_clients: int, tx_per_day: int):
        self.seed = seed
        self.tx_per_day = tx_per_day
        rng = np.random.default_rng([seed, 0])
        n_cl = n_clients
        run_lo = START - datetime.timedelta(days=20)

        # clients
        passports = rng.choice(10**10, size=n_cl, replace=False)
        self.clients = []
        for i in range(n_cl):
            pn = f"{passports[i] // 10**6:04d} {passports[i] % 10**6:06d}"
            valid_to = (None if rng.random() < 0.2 else
                        datetime.date(2030, 1, 1)
                        + datetime.timedelta(days=int(rng.integers(0, 3650))))
            self.clients.append([
                f"{'VIP-' if i % 25 == 0 else ''}{i:04d}",
                LAST[rng.integers(len(LAST))],
                FIRST[rng.integers(len(FIRST))],
                None if rng.random() < 0.1 else PATRONYMIC[rng.integers(len(PATRONYMIC))],
                datetime.date(1950, 1, 1) + datetime.timedelta(days=int(rng.integers(0, 18000))),
                pn, valid_to,
                f"+7 9{rng.integers(10, 99)} {rng.integers(100, 999)} "
                f"{rng.integers(10, 99)} {rng.integers(10, 99)}",
                datetime.date(2001, 1, 1), None,
            ])
        # accounts: one per client, a fifth of clients hold a second one
        owners = list(range(n_cl)) + list(rng.choice(n_cl, n_cl // 5, replace=False))
        acc_nums = rng.choice(10**12, size=len(owners), replace=False)
        self.accounts = [
            [f"40817810{acc_nums[j]:012d}",
             datetime.date(2035, 1, 1) + datetime.timedelta(days=int(rng.integers(0, 3650))),
             self.clients[o][0], datetime.date(1900, 1, 1), None]
            for j, o in enumerate(owners)
        ]
        # cards: one or two per account
        per_acc = 1 + (rng.random(len(self.accounts)) < 0.5)
        card_acc = np.repeat(np.arange(len(self.accounts)), per_acc)
        card_nums = rng.choice(10**16, size=len(card_acc), replace=False)
        self.cards = [
            [" ".join(f"{c:016d}"[k:k + 4] for k in (0, 4, 8, 12)),
             self.accounts[a][0], datetime.date(2001, 1, 1), None]
            for c, a in zip(card_nums, card_acc)
        ]
        n_cards = len(self.cards)
        self.card_num = np.array([c[0] for c in self.cards])
        self.card_client = np.array([owners[a] for a in card_acc])
        self.home = rng.integers(0, len(CITIES), n_cards)

        # Zipf popularity over a random rank order; planted cards and
        # clients come from the tail so flagged volume stays small
        rank = rng.permutation(n_cards)
        pop = 1.0 / (rank + 1.0) ** ZIPF_S
        self.pop = pop / pop.sum()
        tail = np.flatnonzero(rank >= n_cards // 4)
        self.tail = tail  # the planted cards' pool
        expired_cards = rng.choice(tail, max(1, int(EXPIRED_PASSPORT_FRAC * n_cards)),
                                   replace=False)
        for c in expired_cards:
            self.clients[self.card_client[c]][6] = (
                run_lo + datetime.timedelta(days=int(rng.integers(0, 40))))
        invalid_cards = rng.choice(tail, max(1, int(INVALID_CONTRACT_FRAC * n_cards)),
                                   replace=False)
        for c in invalid_cards:
            self.accounts[card_acc[c]][1] = (
                run_lo + datetime.timedelta(days=int(rng.integers(0, 40))))
        self.bl_pool = [int(x) for x in rng.permutation(
            np.unique(self.card_client[tail]))]

        # terminals
        self._next_term = 0
        self.terminals: dict[str, list] = {}
        for i in range(N_TERMINALS):
            # the first terminals cover every city once
            self._add_terminal(rng, i if i < len(CITIES) else None)
        self.blacklist: list[tuple] = []
        self._next_tx = 0
        self._day = 0

    # -- dimensions ----------------------------------------------------------

    def _add_terminal(self, rng, city: int | None = None) -> None:
        self._next_term += 1
        kind = "ATM" if rng.random() < 0.3 else "POS"
        tid = f"{kind[0]}{self._next_term:06d}"
        city = int(rng.integers(len(CITIES))) if city is None else city
        self.terminals[tid] = [kind, city, self._address(rng, city)]

    @staticmethod
    def _address(rng, city: int) -> str:
        return (f"г. {CITIES[city]}, ул. {STREETS[rng.integers(len(STREETS))]}, "
                f"д. {rng.integers(1, 200)}")

    def seed_dml(self) -> str:
        out = []
        for c in self.cards:
            out.append("insert into cards (card_num, account, create_dt, update_dt) "
                       f"values ({_str_sql(c[0])}, {_str_sql(c[1])}, "
                       f"{_date_sql(c[2])}, {_date_sql(c[3])});")
        for a in self.accounts:
            out.append("insert into accounts (account, valid_to, client, create_dt, "
                       f"update_dt) values ({_str_sql(a[0])}, {_date_sql(a[1])}, "
                       f"{_str_sql(a[2])}, {_date_sql(a[3])}, {_date_sql(a[4])});")
        for cl in self.clients:
            vals = [_str_sql(cl[0]), _str_sql(cl[1]), _str_sql(cl[2]), _str_sql(cl[3]),
                    _date_sql(cl[4]), _str_sql(cl[5]), _date_sql(cl[6]),
                    _str_sql(cl[7]), _date_sql(cl[8]), _date_sql(cl[9])]
            out.append("insert into clients (client_id, last_name, first_name, "
                       "patronymic, date_of_birth, passport_num, passport_valid_to, "
                       f"phone, create_dt, update_dt) values ({', '.join(vals)});")
        return "\n".join(out) + "\n"

    def dims_pandas(self) -> dict[str, pd.DataFrame]:
        """The static dimensions as the oracle loads them."""
        return {
            "cards": pd.DataFrame(self.cards, columns=[
                "card_num", "account", "create_dt", "update_dt"]),
            "accounts": pd.DataFrame(self.accounts, columns=[
                "account", "valid_to", "client", "create_dt", "update_dt"]),
            "clients": pd.DataFrame(self.clients, columns=[
                "client_id", "last_name", "first_name", "patronymic", "date_of_birth",
                "passport_num", "passport_valid_to", "phone", "create_dt", "update_dt"]),
        }

    # -- daily feeds ---------------------------------------------------------

    def day(self) -> DayFeed:
        """Advance one day: evolve terminals and blacklist, draw that
        day's transactions."""
        i = self._day
        self._day += 1
        rng = np.random.default_rng([self.seed, 1, i])
        date = START + datetime.timedelta(days=i)
        if i > 0:
            self._evolve_terminals(rng)
        self._extend_blacklist(rng, date)
        tx = self._transactions(rng, date, self.tx_per_day)
        terms = [(tid, k, CITIES[c], a) for tid, (k, c, a) in sorted(self.terminals.items())]
        return DayFeed(date, tx, terms, list(self.blacklist), int(rng.integers(3, 18)))

    def _evolve_terminals(self, rng) -> None:
        ids = sorted(self.terminals)
        n = len(ids)
        dele = rng.choice(n, int(TERM_DEL_FRAC * n), replace=False)
        per_city = np.bincount([c for _k, c, _a in self.terminals.values()],
                               minlength=len(CITIES))
        for j in dele:
            city = self.terminals[ids[j]][1]
            if per_city[city] > 1:     # every city keeps a live terminal
                per_city[city] -= 1
                del self.terminals[ids[j]]
        live = sorted(self.terminals)
        for j in rng.choice(len(live), int(TERM_MOVE_FRAC * n), replace=False):
            t = self.terminals[live[j]]
            t[2] = self._address(rng, t[1])
        for _ in range(int(TERM_ADD_FRAC * n)):
            self._add_terminal(rng)

    def _extend_blacklist(self, rng, date: datetime.date) -> None:
        for k in range(BL_NEW_PER_DAY):
            if not self.bl_pool:
                break
            passport = self.clients[self.bl_pool.pop()][5]
            # one entry a day arrives backdated, so every day after the
            # first takes the incremental rule 1 retro path
            back = 1 if k == 0 else 0
            d = max(START, date - datetime.timedelta(days=back))
            self.blacklist.append((d, passport))
        # a passport no client holds: must never produce a hit
        self.blacklist.append((date, f"{rng.integers(10**4):04d} {rng.integers(10**6):06d}"))

    def _transactions(self, rng, date: datetime.date, n: int) -> pd.DataFrame:
        by_city: list[np.ndarray] = [[] for _ in CITIES]
        for tid, (_k, c, _a) in sorted(self.terminals.items()):
            by_city[c].append(tid)
        by_city = [np.array(v) for v in by_city]

        def home_terminals(cards, cities=None):
            cities = self.home[cards] if cities is None else cities
            out = np.empty(len(cards), dtype=object)
            for c in range(len(CITIES)):
                m = cities == c
                out[m] = by_city[c][rng.integers(0, len(by_city[c]), int(m.sum()))]
            return out

        card = rng.choice(len(self.card_num), size=n, p=self.pop)
        sec = rng.integers(0, 86400, n)
        cents = np.minimum(rng.lognormal(9.0, 1.2, n).astype(np.int64), 10**9)
        otype = OPER_TYPES[rng.choice(3, n, p=[0.44, 0.28, 0.28])]
        reject = rng.random(n) < REJECT_RATE
        term = home_terminals(card)
        parts = [(card, sec, cents, otype, reject, term)]

        # rule 3: a hop to another city within the hour
        k = int(HOP_RATE * n)
        src = rng.choice(np.flatnonzero(~reject), k, replace=False)
        hop_card = card[src]
        other = (self.home[hop_card] + rng.integers(1, len(CITIES), k)) % len(CITIES)
        parts.append((hop_card, np.minimum(sec[src] + rng.integers(60, 3000, k), 86399),
                      rng.lognormal(8.0, 1.0, k).astype(np.int64), OPER_TYPES[np.zeros(k, int)],
                      np.zeros(k, bool), home_terminals(hop_card, other)))

        # rule 4: REJECT, REJECT, SUCCESS with decreasing amounts in 20 min
        k = int(GUESS_RATE * n)
        g_card = rng.choice(self.tail, k)
        t0 = rng.integers(0, 86400 - 700, k)
        t1 = t0 + rng.integers(20, 300, k)
        t2 = t1 + rng.integers(20, 300, k)
        a0 = rng.integers(50_000, 5_000_000, k)
        a1 = (a0 * rng.uniform(0.5, 0.95, k)).astype(np.int64)
        a2 = (a1 * rng.uniform(0.5, 0.95, k)).astype(np.int64)
        for t, a, rej in ((t0, a0, True), (t1, a1, True), (t2, a2, False)):
            parts.append((g_card, t, a, OPER_TYPES[np.ones(k, int)],
                          np.full(k, rej), home_terminals(g_card)))

        card, sec, cents, otype, reject, term = (np.concatenate(x) for x in zip(*parts))
        order = np.lexsort((card, sec))
        card, sec, cents, otype, reject, term = (
            card[order], sec[order], cents[order], otype[order], reject[order], term[order])
        ids = np.arange(self._next_tx, self._next_tx + len(card)) + 40_000_000_000
        self._next_tx += len(card)
        base = np.datetime64(date.isoformat(), "s")
        return pd.DataFrame({
            "transaction_id": ids.astype(str),
            "transaction_date": base + sec.astype("timedelta64[s]"),
            "amount": [f"{c // 100}.{c % 100:02d}" for c in cents],
            "card_num": self.card_num[card],
            "oper_type": otype,
            "oper_result": np.where(reject, "REJECT", "SUCCESS"),
            "terminal": term.astype(str),
        })


# -- file writers ------------------------------------------------------------

def tx_csv_text(tx: pd.DataFrame) -> str:
    stamps = tx["transaction_date"].dt.strftime("%Y-%m-%d %H:%M:%S")
    lines = [TX_HEADER]
    lines.extend(
        f"{i};{d};{a.replace('.', ',')};{c};{o};{r};{t}"
        for i, d, a, c, o, r, t in zip(
            tx["transaction_id"], stamps, tx["amount"], tx["card_num"],
            tx["oper_type"], tx["oper_result"], tx["terminal"]))
    return "\n".join(lines) + "\n"


def _col(j: int) -> str:
    return "ABCDEFGHIJ"[j]


def xlsx_bytes(header: list[str], rows: list[tuple], blank_rows: int = 0) -> bytes:
    """A one-sheet workbook: strings via sharedStrings, numbers inline,
    ``blank_rows`` trailing styled rows with no values."""
    strings: dict[str, int] = {}

    def cell(ref: str, v) -> str:
        if v is None:
            return ""
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return f'<c r="{ref}"><v>{v}</v></c>'
        idx = strings.setdefault(str(v), len(strings))
        return f'<c r="{ref}" t="s"><v>{idx}</v></c>'

    body = []
    for r, row in enumerate([tuple(header)] + list(rows), start=1):
        cells = "".join(cell(f"{_col(j)}{r}", v) for j, v in enumerate(row))
        body.append(f'<row r="{r}">{cells}</row>')
    for r in range(len(rows) + 2, len(rows) + 2 + blank_rows):
        cells = "".join(f'<c r="{_col(j)}{r}" s="1"/>' for j in range(len(header)))
        body.append(f'<row r="{r}">{cells}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    pkg_rel = "http://schemas.openxmlformats.org/package/2006/relationships"
    doc_rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    sst = "".join(f"<si><t>{escape(s)}</t></si>" for s in strings)
    parts = {
        "[Content_Types].xml": (
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            f'<Override PartName="/xl/workbook.xml" ContentType="{ct}.sheet.main+xml"/>'
            f'<Override PartName="/xl/worksheets/sheet1.xml" ContentType="{ct}.worksheet+xml"/>'
            f'<Override PartName="/xl/sharedStrings.xml" ContentType="{ct}.sharedStrings+xml"/>'
            f'<Override PartName="/xl/styles.xml" ContentType="{ct}.styles+xml"/>'
            "</Types>"),
        "_rels/.rels": (
            f'<Relationships xmlns="{pkg_rel}">'
            f'<Relationship Id="rId1" Type="{doc_rel}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"),
        "xl/workbook.xml": (
            f'<workbook {ns} {rel_ns}><sheets>'
            '<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'),
        "xl/_rels/workbook.xml.rels": (
            f'<Relationships xmlns="{pkg_rel}">'
            f'<Relationship Id="rId1" Type="{doc_rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{doc_rel}/sharedStrings" Target="sharedStrings.xml"/>'
            f'<Relationship Id="rId3" Type="{doc_rel}/styles" Target="styles.xml"/>'
            "</Relationships>"),
        "xl/styles.xml": (
            f"<styleSheet {ns}><fonts count=\"1\"><font/></fonts>"
            '<fills count="1"><fill/></fills><borders count="1"><border/></borders>'
            '<cellXfs count="2"><xf/><xf/></cellXfs></styleSheet>'),
        "xl/worksheets/sheet1.xml": (
            f"<worksheet {ns}><sheetData>{''.join(body)}</sheetData></worksheet>"),
        "xl/sharedStrings.xml": (
            f'<sst {ns} count="{len(strings)}" uniqueCount="{len(strings)}">{sst}</sst>'),
    }
    import io
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, xml in parts.items():
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
                        + xml)
    return buf.getvalue()


def excel_serial(d: datetime.date) -> int:
    return (d - EXCEL_EPOCH).days


def write_day(feed: DayFeed, out_dir: str) -> dict[str, str]:
    """Write one day's three feed files; returns their paths by kind."""
    os.makedirs(out_dir, exist_ok=True)
    tag = feed.date.strftime("%d%m%Y")
    paths = {
        "transactions": os.path.join(out_dir, f"transactions_{tag}.txt"),
        "blacklist": os.path.join(out_dir, f"passport_blacklist_{tag}.xlsx"),
        "terminals": os.path.join(out_dir, f"terminals_{tag}.xlsx"),
    }
    with open(paths["transactions"], "w", encoding="utf-8") as f:
        f.write(tx_csv_text(feed.tx))
    with open(paths["blacklist"], "wb") as f:
        f.write(xlsx_bytes(["date", "passport"],
                           [(excel_serial(d), p) for d, p in feed.blacklist],
                           feed.blank_rows))
    with open(paths["terminals"], "wb") as f:
        f.write(xlsx_bytes(["terminal_id", "terminal_type", "terminal_city",
                            "terminal_address"], feed.terminals))
    return paths


def write_seed_dml(world: World, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(world.seed_dml())
    return path
