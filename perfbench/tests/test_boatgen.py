import csv
import io

from perfbench import boatgen


def test_same_seed_same_bytes_and_other_seed_other_bytes():
    a, ea = boatgen.generate(7, 3000)
    b, eb = boatgen.generate(7, 3000)
    c, _ = boatgen.generate(8, 3000)
    assert a == b and ea == eb
    assert a != c


def test_every_quirk_is_present():
    text, _ = boatgen.generate(3, 5000)
    records = list(csv.reader(io.StringIO(text)))
    header, rows = records[0], records[1:]
    assert ",".join(header) == boatgen.HEADER
    assert len(rows) == 5000
    col = {name: i for i, name in enumerate(header)}
    prices = [r[col["Price"]] for r in rows]
    assert any(p.startswith("Â£ ") for p in prices)
    assert all(p.split(" ")[-1].isdigit() for p in prices)
    assert any(", " in r[col["Boat Type"]] for r in rows)
    assert any("\n" in r[col["Boat Type"]] for r in rows)
    assert len(text.splitlines()) > len(records)
    assert any(r[col["Location"]].count("Â»") == 2 for r in rows)
    assert any(r[col["Location"]] == "" for r in rows)
    assert any(r[col["Year Built"]] == "0" for r in rows)
    for name in ("Length", "Width", "Material", "Manufacturer"):
        assert any(r[col[name]] == "" for r in rows), name
    assert any(not r[col["Manufacturer"]].isascii() for r in rows)


def test_expected_aggregates_match_the_rows_written():
    text, expected = boatgen.generate(11, 4000)
    rows = list(csv.DictReader(io.StringIO(text)))
    got: dict[str, list[int]] = {}
    for r in rows:
        cur, amount = r["Price"].rsplit(" ", 1)
        first = r["Location"].split(" Â» ")[0]
        acc = got.setdefault(boatgen.LOCATIONS[first], [0, 0])
        acc[0] += 1
        acc[1] += int(amount) * boatgen.CURRENCIES[cur]
    assert {k: tuple(v) for k, v in got.items()} == expected
    assert sum(n for n, _ in expected.values()) == 4000
    assert {"Spain", "belgium", "None"} <= set(expected)
