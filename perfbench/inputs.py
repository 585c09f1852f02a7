"""Seeded broker-export generator with the expected canonical lines.

Rows are built from the shapes in ``cgtcalc_data_transformer_spark.fixtures``:
non-trade rows the parsers must drop, ``£``/comma-decorated numbers,
sign-flipped sell quantities (II), a repeated header mid-file
(Fidelity), both BullionVault deal-time forms, and values whose JS
printing differs from their export text (``40.00`` → ``40``,
``0.050`` → ``0.05``). Every value is written as a short decimal string,
so the expected line follows from Python's shortest round-trip ``repr``,
which is the digit string JS prints for numbers in [1e-6, 1e21).

``write_export`` returns the expected canonical lines in the order the
CLI reads them; ``merge`` applies the CLI's append/sort/dedup contract
to predict ``data.txt`` byte for byte.
"""

from __future__ import annotations

import datetime as dt
import os
import random

from cgtcalc_data_transformer_spark.fixtures import FIDELITY_PREAMBLE_LINES
from cgtcalc_data_transformer_spark.schemas import FREETRADE_COLUMNS

BROKERS = ("freetrade", "ii", "fidelity", "bullionvault")

_MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]
_II_HEADER = (
    "Date,Settlement Date,Symbol,Sedol,Quantity,Price,Description,"
    "Reference,Debit,Credit,Running Balance"
)
_FID_HEADER = (
    "Order date,Completion date,Transaction type,Investments,Product Wrapper,"
    "Account Number,Source investment,Amount,Quantity,Price per unit,"
    "Reference Number,Status,"
)
_FUNDS = ["Global Index Fund", "UK Smaller Cos", "My  Test Fund", "Bond Income"]


def js(text: str) -> str:
    """JS ``String(Number(text))`` for the short decimals written here."""
    r = repr(float(text))
    return r[:-2] if r.endswith(".0") else r


def _money(x: float) -> str:
    """``1234.5`` → ``£1,234.50``."""
    return f"£{x:,.2f}"


def _quoted(s: str) -> str:
    return f'"{s}"' if "," in s else s


class _Gen:
    def __init__(self, seed: int):
        self.r = random.Random(seed)

    def day(self) -> dt.date:
        return dt.date(2019, 1, 1) + dt.timedelta(days=self.r.randrange(6 * 365))

    def dec(self, lo: float, hi: float, places: int) -> str:
        """A non-zero decimal string with ``places`` decimals."""
        v = max(round(self.r.uniform(lo, hi), places), 10.0**-places)
        return f"{v:.{places}f}"

    def code(self, n: int) -> str:
        return "".join(self.r.choice("ABCDEFGHJKLMNPQRSTUVWXYZ") for _ in range(n))


def _freetrade(g: _Gen, n: int) -> tuple[str, list[str]]:
    rows, expected = [",".join(FREETRADE_COLUMNS)], []
    for i in range(n):
        day = g.day()
        ts = f"{day.isoformat()}T{g.r.randrange(24):02d}:{g.r.randrange(60):02d}:00.{g.r.randrange(1000):03d}Z"
        if i % 5 == 4:
            kv = {"Title": "Acme Corp", "Type": g.r.choice(["MONTHLY_STATEMENT", "DIVIDEND"]), "Timestamp": ts}
        else:
            side = g.r.choice(["BUY", "SELL"])
            isin = f"GB{g.r.randrange(10**10):010d}" if g.r.random() < 0.7 else ""
            ticker = g.code(3)
            qty = g.dec(0.5, 500, g.r.choice([0, 2]))
            price = g.dec(0.1, 900, 2)
            stamp = g.dec(0, 5, 2) if side == "BUY" and g.r.random() < 0.6 else ""
            fx = g.dec(0, 2, 2) if g.r.random() < 0.5 else ""
            kv = {
                "Title": "Acme Corp", "Type": "ORDER", "Timestamp": ts,
                "Account Currency": "GBP", "Total Amount": g.dec(1, 9000, 2),
                "Buy / Sell": side, "Ticker": ticker, "ISIN": isin,
                "Price per Share in Account Currency": price,
                "Stamp Duty": stamp, "Quantity": qty, "FX Fee Amount": fx,
            }
            fee = (float(stamp) if stamp else 0.0) + (float(fx) if fx else 0.0)
            expected.append(
                f"{side} {day:%d/%m/%Y} {isin or ticker} {js(qty)} {js(price)} {js(repr(fee))}"
            )
        rows.append(",".join(kv.get(c, "") for c in FREETRADE_COLUMNS))
    return "\n".join(rows) + "\n", expected


def _ii(g: _Gen, n: int) -> tuple[str, list[str]]:
    rows, expected = [_II_HEADER], []
    for i in range(n):
        trade = g.day()
        settle = trade + dt.timedelta(days=2)
        trade_s, settle_s = f"{trade:%d/%m/%Y}", f"{settle.day}/{settle.month}/{settle.year}"
        if i % 5 == 4:
            rows.append(f'{trade_s},{settle_s},n/a,n/a,n/a,n/a,Monthly Fee,R{i},"£9.99",n/a,"£0.00"')
            continue
        side = g.r.choice(["BUY", "SELL"])
        symbol = g.code(3)
        sedol = f"B{g.r.randrange(10**6):06d}" if g.r.random() < 0.8 else ""
        qty = g.dec(1, 2000, g.r.choice([0, 1]))
        price = float(g.dec(0.5, 2500, 2))
        value = _quoted(_money(round(float(qty) * price, 2)))
        signed = qty if side == "BUY" else f"-{qty}"
        debit, credit = (value, "n/a") if side == "BUY" else ("n/a", value)
        rows.append(
            f"{trade_s},{settle_s},{symbol},{sedol},{signed},{_quoted(_money(price))},"
            f"{side.title()} {symbol},R{i},{debit},{credit},\"£0.00\""
        )
        expected.append(
            f"{side} {settle:%d/%m/%Y} {sedol or symbol} {js(qty)} {js(repr(price))} 0"
        )
    return "\n".join(rows) + "\n", expected


def _fidelity(g: _Gen, n: int) -> tuple[str, list[str]]:
    preamble = ["", "Client account export"] + [""] * (FIDELITY_PREAMBLE_LINES - 2)
    rows, expected = preamble + [_FID_HEADER, ""], []
    for i in range(n):
        order = g.day()
        done = order + dt.timedelta(days=g.r.randrange(1, 4))
        month = _MONTHS[done.month - 1]
        done_s = f"{done.day} {month if g.r.random() < 0.3 else month[:3]} {done.year}"
        order_s = f"{order.day} {_MONTHS[order.month - 1][:3]} {order.year}"
        if i == n // 2:
            rows.append(_FID_HEADER)
        if i % 5 == 4:
            amount = g.dec(10, 900, 2)
            rows.append(f"{order_s},{done_s},Cash In,Cash,Investment Account,ZZ00000001,,{amount},{amount},1,R{i},Completed,")
            continue
        kind = g.r.choice(["Buy", "Sell", "Buy from regular savings plan", "Sell for switch"])
        fund = g.r.choice(_FUNDS)
        qty = g.dec(0.5, 900, g.r.choice([0, 1, 3]))
        price = g.dec(0.5, 40, 2)
        amount = f"{float(qty) * float(price):.2f}"
        signed = amount if kind.startswith("Buy") else f"-{amount}"
        if float(amount) == 0:
            continue
        rows.append(
            f"{order_s},{done_s},{kind},{fund},Investment Account,ZZ00000001,,{signed},{qty},{price},R{i},Completed,"
        )
        side = "BUY" if kind.startswith("Buy") else "SELL"
        expected.append(f"{side} {done:%d/%m/%Y} {'_'.join(fund.split())} {js(qty)} {js(price)} 0")
    return "\n".join(rows) + "\n", expected


def _bullionvault(g: _Gen, n: int) -> tuple[list[str], list[str]]:
    emails, expected = [], []
    for i in range(n):
        day = g.day()
        side = g.r.choice(["Buy", "Sell"])
        metal = g.r.choice(["gold", "silver"])
        qty = g.dec(0.001, 5, 3)
        price = float(g.dec(400, 60000, 2))
        commission = g.dec(0.5, 80, 2)
        consideration = _money(round(float(qty) * price, 2))[1:]
        if i % 2 == 0:
            deal = f"Summary: {side} {qty}kg @ GBP {price:,.2f}/kg"
            hour = g.r.randrange(1, 13)
            when = f"{_MONTHS[day.month - 1]} {day.day}, {day.year} at {hour}:{g.r.randrange(60):02d}:30 {g.r.choice(['AM', 'PM'])} BST"
            cons = f"Consideration: GBP {consideration}"
        else:
            deal = f"Deal: {side} {qty}kg @ GBP {price:,.2f}/kg"
            when = f"{day.day} {_MONTHS[day.month - 1]} {day.year} {g.r.randrange(24):02d}:00:00 BST"
            cons = f"Net consideration: GBP {consideration}"
        emails.append(
            f"Subject: Dealing advice {555000 + i}\n\n<html><body>\n"
            f"=09Security: Fine {metal} kilos in Zurich vault<br>\n"
            f"=09{deal}\n=09Deal time: {when}\n=09{cons}\n"
            f"=09Commission: GBP {commission}\n</body></html>"
        )
        expected.append(
            f"{side.upper()} {day:%d/%m/%Y} {metal.upper()} {js(qty)} {js(repr(price))} {js(commission)}"
        )
    return emails, expected


def write_export(broker: str, n: int, seed: int, dest: str) -> tuple[str, list[str]]:
    """Write an export of about ``n`` rows under ``dest``.

    Returns the CLI path argument and the expected canonical lines in
    the order the CLI reads them (file order; .eml files by name).
    """
    g = _Gen(seed * 1_000_003 + BROKERS.index(broker) * 10_007 + n)
    os.makedirs(dest, exist_ok=True)
    if broker == "bullionvault":
        emails, expected = _bullionvault(g, n)
        path = os.path.join(dest, "bullionvault")
        os.makedirs(path, exist_ok=True)
        for i, text in enumerate(emails):
            with open(os.path.join(path, f"{i:06d}.eml"), "w", encoding="utf-8") as f:
                f.write(text)
        return path, expected
    text, expected = {"freetrade": _freetrade, "ii": _ii, "fidelity": _fidelity}[broker](g, n)
    path = os.path.join(dest, f"{broker}.csv")
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    return path, expected


def _date_key(line: str) -> tuple[int, int, int]:
    d, m, y = line.split(" ")[1].split("/")
    return int(y), int(m), int(d)


def merge(existing: list[str], new: list[str], dedup: bool = False) -> list[str]:
    """The CLI's merge contract: existing lines before new ones, each in
    read order, stably sorted by the embedded date; ``dedup`` keeps the
    first occurrence of each line."""
    lines = existing + new
    if dedup:
        lines = list(dict.fromkeys(lines))
    return sorted(lines, key=_date_key)


def as_bytes(lines: list[str]) -> bytes:
    """``data.txt`` contents for ``lines``."""
    return "".join(ln + "\n" for ln in lines).encode("utf-8")
