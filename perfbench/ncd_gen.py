"""Seeded generator of a synthetic NCD monthly dump (several zips).

The layout follows FIXTURES.md §A and the hand-written fixture in
``tests/conftest.py``, whose edge rows, global codebooks and lookup file are
imported and embedded verbatim so that every dump carries them:

* ``README.TXT`` per zip with ``NAME - description`` blocks and
  ``FIELD [NOT NULL] TYPE (start:end)`` lines;
* per-district latin-1 members ``{table}_{DISTRICT}.txt`` for 94 districts
  whose sizes follow a Zipf law, plus one unpartitioned member;
* ``*`` redactions in every column type, impossible dates, decimal and
  non-numeric NUMBER text, CR in the middle of a row, latin-1 high bytes;
* a UTF-8 ``global_LIONS.txt`` with two stacked codebook tables;
* ``table_gs_*.txt`` lookup files.

The same seed and size give byte-identical zips.  Nothing is downloaded.
"""

from __future__ import annotations

import datetime
import os
import random
import zipfile
from dataclasses import dataclass, field

from tests.conftest import (
    GLOBAL_LIONS_TEXT,
    GS_CASE_ROWS,
    GS_COURT_HIST_CT,
    GS_COURT_HIST_FLM,
    LOOKUP_TEXT,
)

# Everything the dump embeds from the hand-written fixture; part of the key
# of the cached dumps.
FIXTURE = (GLOBAL_LIONS_TEXT, GS_CASE_ROWS, GS_COURT_HIST_CT, GS_COURT_HIST_FLM, LOOKUP_TEXT)

# The 94 federal judicial districts, as NCD spells them in member names.
DISTRICTS = (
    "ALM ALN ALS AK AZ ARE ARW CAC CAE CAN CAS CO CT DE DC FLM FLN FLS GAM "
    "GAN GAS GU HI ID ILC ILN ILS INN INS IAN IAS KS KYE KYW LAE LAM LAW ME "
    "MD MA MIE MIW MN MSN MSS MOE MOW MT NE NV NH NJ NM NYE NYN NYS NYW NCE "
    "NCM NCW ND MP OHN OHS OKE OKN OKW OR PAE PAM PAW PR RI SC SD TNE TNM "
    "TNW TXE TXN TXS TXW UT VT VI VAE VAW WAE WAW WVN WVS WIE WIW WY"
).split()

MONTHS = "JAN FEB MAR APR MAY JUN JUL AUG SEP OCT NOV DEC".split()
STATUS_CODES = ("OP", "CL", "PD", "TR", "DI")
CHARGE_CODES = ("18USC", "21USC", "8USC", "26USC", "31USC", "42USC", "49USC")
EVENT_CODES = ("ARRG", "PLEA", "TRIA", "SENT", "DISM", "APPL", "HEAR")
NAMES = (
    "Adams", "Álvarez", "Brontë", "Castaño", "Dubois", "Ødegaard", "Fischer",
    "García", "Hoffmann", "Ibáñez", "Jørgensen", "Kühn", "Lefèvre", "Müller",
    "Núñez", "O'Brien", "Peña", "Quiñones", "Røed", "Schäfer", "Thériault",
    "Ulloa", "Vázquez", "Weiß", "Yáñez", "Zoë",
)

# (name, src type, width).  Extents are assigned left to right from 1.
# GS_CASE and GS_COURT_HIST start with the fixture README's fields, so the
# fixture rows fit them as short lines.
NORMAL_TABLES: dict[str, tuple[tuple[str, str, int], ...]] = {
    "GS_CASE": (
        ("CASE_ID", "VARCHAR2(10)", 10),
        ("DISTRICT", "VARCHAR2(3)", 3),
        ("TOTAL_DEFENDANTS", "NUMBER(5)", 5),
        ("FILED_DATE", "DATE", 11),
        ("LEAD_CHARGE_WT", "FLOAT", 8),
        ("STATUS", "VARCHAR2(2)", 2),
        ("TERM_DATE", "DATE", 11),
        ("LEAD_CHARGE", "VARCHAR2(6)", 6),
        ("JUDGE_ID", "NUMBER(6)", 6),
        ("FINE_AMT", "FLOAT", 12),
    ),
    "GS_COURT_HIST": (
        ("CASE_ID", "VARCHAR2(10)", 10),
        ("EVENT_DATE", "DATE", 11),
        ("EVENT_CODE", "VARCHAR2(4)", 4),
        ("SEQ", "NUMBER(4)", 4),
        ("DURATION_HRS", "FLOAT", 8),
    ),
    "GS_JUDGE": (
        ("JUDGE_ID", "NUMBER(6)", 6),
        ("NAME", "VARCHAR2(24)", 24),
        ("APPOINTED", "DATE", 11),
        ("SENIOR", "VARCHAR2(1)", 1),
    ),
}

# Share of the dump's rows per table; GS_JUDGE is the unpartitioned one.
# The shares, and the rates of malformed cells below, are assumptions: no
# published statistics of NCD dumps were at hand.  They give one large
# table, one middle-sized one and one small one, and a few hundred edge
# cells of each kind per dump.
ROW_SHARE = {
    "GS_CASE": 0.78,
    "GS_COURT_HIST": 0.20,
    "GS_JUDGE": 0.02,
}

# zip name -> (normal tables, carries the global file and lookups)
ZIPS = (
    ("ncd_case.zip", ("GS_CASE", "GS_JUDGE"), True),
    ("ncd_court.zip", ("GS_COURT_HIST",), False),
)

# Fixed zip timestamp, so the archive bytes depend only on the seed.
_ZIP_TIME = (2018, 1, 15, 0, 0, 0)
# Probabilities of the malformed cells.
P_REDACT = 0.03
P_BAD = 0.01
P_CR = 0.005


@dataclass
class Dump:
    """A generated dump: zip paths plus what the oracle and SQL need."""

    zips: list[str]
    input_bytes: int  # uncompressed fixed-width member bytes
    normal_rows: int  # rows of every normal table together
    case_ids: dict[str, list[str]] = field(default_factory=dict)  # district -> ids


def field_extents(table: str) -> list[tuple[str, str, int, int]]:
    """``(name, base type, start, end)`` per field, 1-based inclusive."""
    out, pos = [], 1
    for name, src, width in NORMAL_TABLES[table]:
        out.append((name, src.split("(", 1)[0], pos, pos + width - 1))
        pos += width
    return out


def readme_text(tables: tuple[str, ...]) -> str:
    parts = ["National Caseload Data extract.  Field positions are 1-based.\n"]
    for table in tables:
        parts.append(f"{table} - Synthetic {table.lower()} records")
        for (name, src, _), (_, _, s, e) in zip(
            NORMAL_TABLES[table], field_extents(table)
        ):
            null = "NOT NULL" if name == "CASE_ID" else ""
            parts.append(f"    {name:<18}{null:<10}{src:<15}({s}:{e})")
        parts.append("")
    return "\n".join(parts) + "\n"


def zipf_sizes(rng: random.Random, total: int, n: int) -> list[int]:
    """``n`` positive sizes summing to about ``total``, in proportion to
    ``1/rank`` (Zipf's law with exponent 1), ranks shuffled."""
    weights = [1.0 / r for r in range(1, n + 1)]
    rng.shuffle(weights)
    scale = total / sum(weights)
    return [max(1, round(w * scale)) for w in weights]


def _date(rng: random.Random, lo: int = 1995, hi: int = 2018) -> str:
    d = datetime.date(lo, 1, 1) + datetime.timedelta(
        days=rng.randrange((hi - lo) * 365)
    )
    return f"{d.day:02d}-{MONTHS[d.month - 1]}-{d.year}"


def _cell(rng: random.Random, src: str, width: int, value: str) -> str:
    """One fixed-width cell, sometimes redacted or malformed."""
    u = rng.random()
    if u < P_REDACT:
        value = "*"
    elif u < P_REDACT + P_BAD:
        value = {
            "DATE": rng.choice(("31-FEB-2017", "00-XXX-0000", "2017-01-01")),
            "NUMBER": rng.choice(("12.5", "N/A", "1e3")),
            "FLOAT": rng.choice(("abc", "1.2.3", "--")),
        }.get(src, value)
    value = value[:width]
    if src in ("NUMBER", "FLOAT"):
        return value.rjust(width)
    return value.ljust(width)


def _row(rng: random.Random, table: str, values: dict[str, str]) -> str:
    cells = [
        _cell(rng, src.split("(", 1)[0], width, values[name])
        for name, src, width in NORMAL_TABLES[table]
    ]
    line = "".join(cells)
    if rng.random() < P_CR:
        # CR in the middle of a row; staging turns it into a space.
        i = rng.randrange(1, len(line) - 1)
        line = line[:i] + "\r" + line[i + 1 :]
    return line


def _case_values(rng: random.Random, case_id: str, district: str) -> dict[str, str]:
    return {
        "CASE_ID": case_id,
        "DISTRICT": district,
        "TOTAL_DEFENDANTS": str(rng.randint(1, 40)),
        "FILED_DATE": _date(rng),
        "LEAD_CHARGE_WT": f"{rng.random() * 100:.2f}",
        "STATUS": rng.choice(STATUS_CODES),
        "TERM_DATE": _date(rng, 2000, 2019),
        "LEAD_CHARGE": rng.choice(CHARGE_CODES),
        "JUDGE_ID": str(rng.randint(1, 400)),
        "FINE_AMT": f"{rng.random() * 1e6:.2f}",
    }


def _hist_values(rng: random.Random, case_id: str, seq: int) -> dict[str, str]:
    return {
        "CASE_ID": case_id,
        "EVENT_DATE": _date(rng),
        "EVENT_CODE": rng.choice(EVENT_CODES),
        "SEQ": str(seq),
        "DURATION_HRS": f"{rng.random() * 8:.2f}",
    }


def _ruler_table(rows: list[tuple[str, str]]) -> str:
    w0 = max(4, *(len(c) for c, _ in rows))
    w1 = max(len("Description"), *(len(d) for _, d in rows))
    lines = [f"{'Code':<{w0}}  {'Description':<{w1}}", f"{'-' * w0}  {'-' * w1}"]
    lines += [f"{c:<{w0}}  {d:<{w1}}" for c, d in rows]
    return "\n".join(lines) + "\n"


# Every small table costs a write job and its DDL on each refresh, which is
# why the dump adds only one generated lookup to the fixture's codebooks.
def global_lions_text() -> str:
    """The fixture's two stacked tables, with one row that is not ASCII."""
    row = "CT    Connecticut\n"
    assert row in GLOBAL_LIONS_TEXT
    return GLOBAL_LIONS_TEXT.replace(row, row + "PR    Distrito — São Juan\n")


def lookup_texts(rng: random.Random) -> dict[str, str]:
    """The fixture's ``table_gs_position.txt`` and a generated charge lookup,
    which the analyst queries join to."""
    rows = [(c, f"Title {c[:-3]} offense") for c in CHARGE_CODES] + [("*", "Redacted")]
    rng.shuffle(rows)
    return {
        "table_gs_position.txt": LOOKUP_TEXT,
        "table_gs_charge.txt": (
            "Codebook report for LIONS table GS_CHARGE\nGenerated 01/15/2018\n\n"
            f"{_ruler_table(rows)}\nEnd of report.\n"
        ),
    }


def _member(lines: list[str], crlf: bool) -> bytes:
    sep = "\r\n" if crlf else "\n"
    return (sep.join(lines) + sep).encode("latin-1")


def _write(zf: zipfile.ZipFile, name: str, data: bytes) -> None:
    info = zipfile.ZipInfo(name, date_time=_ZIP_TIME)
    info.compress_type = zipfile.ZIP_DEFLATED
    zf.writestr(info, data)


def generate_dump(out_dir: str, seed: int, rows: int) -> Dump:
    """Write the dump's zips under ``out_dir``; returns their description."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_case = int(rows * ROW_SHARE["GS_CASE"])
    case_sizes = zipf_sizes(rng, n_case, len(DISTRICTS))
    dump = Dump(zips=[], input_bytes=0, normal_rows=0)

    members: dict[str, dict[str, bytes]] = {z: {} for z, _, _ in ZIPS}
    next_id = 0
    case_lines: dict[str, list[str]] = {}
    for d, size in zip(DISTRICTS, case_sizes):
        ids = [f"C{next_id + k:09d}" for k in range(size)]
        next_id += size
        dump.case_ids[d] = ids
        case_lines[d] = [_row(rng, "GS_CASE", _case_values(rng, i, d)) for i in ids]
    # The fixture's edge rows are short lines; they join the FLM and CT members.
    case_lines["FLM"] += GS_CASE_ROWS[:2]
    case_lines["CT"] += GS_CASE_ROWS[2:]

    table_zip = {t: z for z, tables, _ in ZIPS for t in tables}
    for d in DISTRICTS:
        crlf = rng.random() < 0.5
        members[table_zip["GS_CASE"]][f"gs_case_{d}.txt"] = _member(case_lines[d], crlf)
    per_case = rows * ROW_SHARE["GS_COURT_HIST"] / max(1, n_case)
    for d in DISTRICTS:
        lines = []
        for case_id in dump.case_ids[d]:
            k = int(per_case) + (rng.random() < per_case % 1)
            lines += [
                _row(rng, "GS_COURT_HIST", _hist_values(rng, case_id, s))
                for s in range(k)
            ]
        lines += {"FLM": GS_COURT_HIST_FLM, "CT": GS_COURT_HIST_CT}.get(d, [])
        if lines:
            members[table_zip["GS_COURT_HIST"]][f"gs_court_hist_{d}.txt"] = _member(
                lines, rng.random() < 0.5
            )
    judges = [
        _row(rng, "GS_JUDGE", {
            "JUDGE_ID": str(j),
            "NAME": f"{rng.choice(NAMES)}, {rng.choice(NAMES)}",
            "APPOINTED": _date(rng, 1970, 2018),
            "SENIOR": rng.choice("YN"),
        })
        for j in range(1, max(2, int(rows * ROW_SHARE["GS_JUDGE"])) + 1)
    ]
    members[table_zip["GS_JUDGE"]]["gs_judge.txt"] = _member(judges, True)

    for zip_name, tables, with_globals in ZIPS:
        path = os.path.join(out_dir, zip_name)
        with zipfile.ZipFile(path, "w") as zf:
            _write(zf, "README.TXT", readme_text(tables).encode("latin-1"))
            for name in sorted(members[zip_name]):
                data = members[zip_name][name]
                dump.input_bytes += len(data)
                dump.normal_rows += data.count(b"\n")
                _write(zf, name, data)
            if with_globals:
                _write(zf, "global_LIONS.txt", global_lions_text().encode("utf-8"))
                for name, text in sorted(lookup_texts(rng).items()):
                    _write(zf, name, text.encode("latin-1"))
        dump.zips.append(path)
    return dump
