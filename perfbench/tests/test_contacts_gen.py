"""The seeded contacts generator: byte-identical output per seed, and a
planted truth the merge rules can reproduce."""

import csv
import filecmp
import json
import os

import pytest

from contacts_etl_phase21_spark.functions.names import nickname_root
from contacts_etl_phase21_spark.functions.text import fold_text

from perfbench import contacts_gen

FILES = ("linkedin.csv", "gmail.csv", "mac.vcf", "truth.json")


def _rows(d):
    with open(os.path.join(d, "gmail.csv"), encoding="utf-8") as fh:
        gmail = list(csv.DictReader(fh))
    with open(os.path.join(d, "linkedin.csv"), encoding="utf-8") as fh:
        linkedin = list(csv.DictReader(fh))
    with open(os.path.join(d, "mac.vcf"), encoding="utf-8") as fh:
        vcards = fh.read().count("BEGIN:VCARD")
    return gmail, linkedin, vcards


def test_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    contacts_gen.generate(7, 300, a)
    contacts_gen.generate(7, 300, b)
    contacts_gen.generate(8, 300, c)
    for name in FILES:
        assert filecmp.cmp(os.path.join(a, name), os.path.join(b, name),
                           shallow=False)
    assert not filecmp.cmp(os.path.join(a, "gmail.csv"),
                           os.path.join(c, "gmail.csv"), shallow=False)


def test_truth_counts_rows_and_persons(tmp_path):
    d = str(tmp_path)
    truth = contacts_gen.generate(3, 400, d)
    gmail, linkedin, vcards = _rows(d)
    assert truth.persons == len(gmail) == 400
    assert truth.rows == len(gmail) + len(linkedin) + vcards
    with open(os.path.join(d, "truth.json"), encoding="utf-8") as fh:
        assert json.load(fh)["rows"] == truth.rows
    # every duplicate shares its person's email
    emails = {r["E-mail 1 - Value"] for r in gmail}
    assert {r["Email Address"] for r in linkedin} <= emails
    assert set(truth.email_to_person) == emails


def test_duplicates_carry_name_variants(tmp_path):
    d = str(tmp_path)
    contacts_gen.generate(5, 400, d)
    gmail, linkedin, _ = _rows(d)
    first_of = {r["E-mail 1 - Value"]: r["First Name"] for r in gmail}
    variants = [r for r in linkedin
                if r["First Name"] != first_of[r["Email Address"]]]
    assert variants
    nicknames = [r for r in variants if nickname_root(r["First Name"])
                 == nickname_root(first_of[r["Email Address"]])]
    assert nicknames and len(nicknames) < len(variants)


def test_block_mates_cannot_merge(tmp_path):
    """Persons sharing a surname have distinct fold and nickname keys,
    and the top surname holds the census top-surname share."""
    d = str(tmp_path)
    contacts_gen.generate(11, 2000, d)
    gmail, _, _ = _rows(d)
    blocks = {}
    for r in gmail:
        blocks.setdefault(r["Last Name"], []).append(r["First Name"])
    for firsts in blocks.values():
        assert len({fold_text(f) for f in firsts}) == len(firsts)
        assert len({nickname_root(f) for f in firsts}) == len(firsts)
    sizes = sorted((len(v) for v in blocks.values()), reverse=True)
    assert sizes[0] == round(2000 * contacts_gen.SMITH_PER_100K / 1e5)
    assert sizes[0] >= 4 * sizes[len(sizes) // 2]


def test_surname_fit_matches_census_figures():
    n, s = contacts_gen.SURNAMES, contacts_gen.SURNAME_EXPONENT
    h = sum(r ** -s for r in range(1, n + 1))
    assert 1 / h == pytest.approx(contacts_gen.SMITH_PER_100K / 1e5,
                                  rel=0.01)
    assert 10 ** -s / h == pytest.approx(
        contacts_gen.RANK10_PER_100K / 1e5, rel=0.01)
    # the census table's top ten hold 4.90% of persons
    assert sum(r ** -s for r in range(1, 11)) / h == pytest.approx(
        0.049, abs=0.001)
