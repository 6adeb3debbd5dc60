"""Seeded contacts generator: LinkedIn CSV, Gmail CSV and vCard sources
plus the planted truth the benchmark checks outputs against.

Shape, after tools/bench_vs_reference.gen_fixtures:

- every person has one Gmail row; exactly half also have a LinkedIn
  row and a quarter a vCard row. All rows of one person share an
  email, so the merge rules must join them into one contact;
- surnames are skewed as in the 2010 US Census (see SURNAME_EXPONENT),
  so a few blocking keys hold more persons than the rest (ER pair cost
  grows with the sum of squared block sizes). Block sizes are fixed
  quotas, the same for every seed, so the seed changes the content of
  the input but not its shape;
- on half of the planted duplicates the LinkedIn / vCard row carries a
  nickname of the Gmail first name (Bill for William) or a one-edit
  variant (Khavoru for Kavoru), so those pairs are scored by the
  name-similarity UDF instead of the exact-name fast path;
- persons that share a surname get first names with distinct fold and
  nickname keys, which the merge gates can never join.

The same seed gives byte-identical files. Only the standard library
and the engine's own nickname table are used.
"""

from __future__ import annotations

import csv
import json
import math
import os
import random
from dataclasses import dataclass

from contacts_etl_phase21_spark.functions.data import NICKNAME_ROOTS
from contacts_etl_phase21_spark.functions.names import nickname_root

LINKEDIN_HEADER = ["First Name", "Last Name", "URL", "Email Address",
                   "Company", "Position", "Connected On"]
GMAIL_HEADER = [
    "First Name", "Middle Name", "Last Name", "Name Prefix", "Name Suffix",
    "Nickname", "Organization Name", "Organization Title",
    "Organization Department", "Notes", "E-mail 1 - Value",
    "E-mail 1 - Label", "Phone 1 - Value", "Phone 1 - Label",
    "Address 1 - Street", "Address 1 - City", "Address 1 - Region",
    "Address 1 - Postal Code", "Address 1 - Country", "Address 1 - Label"]
CITIES = (("Quincy", "MA", "02169"), ("Austin", "TX", "78701"),
          ("Denver", "CO", "80202"), ("Boise", "ID", "83702"),
          ("Tampa", "FL", "33602"), ("Salem", "OR", "97301"))
_CONSONANTS = "bdfgklmnprstvz"  # no 'h': the one-edit variant inserts it
_VOWELS = "aeiou"
# Surname shares follow a power law p(r) ~ r**-s fitted to two figures
# of the 2010 US Census table "Frequently Occurring Surnames from the
# 2010 Census" (U.S. Census Bureau, 2016): rank 1 (Smith) holds 828.19
# and rank 10 (Martinez) 359.40 per 100,000 persons. The exponent passes
# through both; the pool is the smallest whose rank 1 holds Smith's
# share (923 surnames). The fit's top-10 share, 4.95%, matches the
# table's 4.90%. Beyond rank 10 the power law is an assumption.
SMITH_PER_100K = 828.19
RANK10_PER_100K = 359.40
SURNAME_EXPONENT = math.log(SMITH_PER_100K / RANK10_PER_100K) / math.log(10)


def _surname_pool_size() -> int:
    n, h = 0, 0.0
    while n == 0 or 1.0 / h > SMITH_PER_100K / 1e5:
        n += 1
        h += n ** -SURNAME_EXPONENT
    return n


SURNAMES = _surname_pool_size()


@dataclass(frozen=True)
class Truth:
    persons: int
    rows: int
    email_to_person: dict[str, int]

    def to_json(self) -> str:
        return json.dumps({"persons": self.persons, "rows": self.rows,
                           "email_to_person": self.email_to_person},
                          sort_keys=True)


def _clean_roots() -> list[str]:
    """Nickname roots whose every variant maps back to the root (drops
    families that share a variant, e.g. kate under two roots)."""
    return [root for root, variants in NICKNAME_ROOTS.items()
            if nickname_root(root) == root
            and all(nickname_root(v) == root for v in variants)]


def _syllable_name(rng: random.Random, n_syl: int) -> str:
    return "".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS)
                   for _ in range(n_syl)).title()


def _name_pool(rng: random.Random, size: int) -> list[str]:
    """Distinct first names: the clean nickname roots, then synthetic
    three-syllable names outside the nickname table."""
    pool = [r.title() for r in _clean_roots()]
    seen = {p.lower() for p in pool}
    while len(pool) < size:
        name = _syllable_name(rng, 3)
        if name.lower() not in seen and nickname_root(name) == name.lower():
            seen.add(name.lower())
            pool.append(name)
    return pool


def _variant(rng: random.Random, first: str) -> str:
    root = first.lower()
    if root in NICKNAME_ROOTS:
        return rng.choice(NICKNAME_ROOTS[root]).title()
    return first[0] + "h" + first[1:]


def _surname_quotas(total: int, n: int) -> list[int]:
    """Split total over n blocks in the surname shares (largest
    remainder), so every seed gives the same block sizes and only the
    content varies."""
    weights = [(k + 1) ** -SURNAME_EXPONENT for k in range(n)]
    exact = [total * w / sum(weights) for w in weights]
    sizes = [int(x) for x in exact]
    by_remainder = sorted(range(n), key=lambda k: sizes[k] - exact[k])
    for k in by_remainder[:total - sum(sizes)]:
        sizes[k] += 1
    return sizes


def generate(seed: int, persons: int, out_dir: str) -> Truth:
    """Write linkedin.csv, gmail.csv, mac.vcf and truth.json into
    out_dir; return the planted truth."""
    rng = random.Random(seed)
    surnames: list[str] = []
    while len(surnames) < SURNAMES:
        s = _syllable_name(rng, 2) + rng.choice(("son", "er", "ley", "ton"))
        if s not in surnames:
            surnames.append(s)
    block_sizes = _surname_quotas(persons, SURNAMES)
    last_of = [k for k, size in enumerate(block_sizes) for _ in range(size)]
    rng.shuffle(last_of)
    pool = _name_pool(rng, max(block_sizes) + 64)
    # distinct first names inside each block
    block_names = {k: rng.sample(pool, size)
                   for k, size in enumerate(block_sizes) if size}
    taken = [0] * SURNAMES
    people = []
    for i, k in enumerate(last_of):
        first = block_names[k][taken[k]]
        taken[k] += 1
        last = surnames[k]
        city = CITIES[i % len(CITIES)]
        people.append({
            "first": first, "last": last,
            "email": f"{first.lower()}.{last.lower()}.{i}@example.com",
            "phone": f"({617 + i // 10000}) 555-{i % 10000:04d}",
            "company": f"Company{rng.randrange(50)}", "city": city})

    # exact shares: half the persons get a LinkedIn row, a quarter a
    # vCard row, and half of those duplicates carry a name variant
    linkedin = set(rng.sample(range(persons), persons // 2))
    vcard = set(rng.sample(range(persons), persons // 4))
    li_varied = set(rng.sample(sorted(linkedin), len(linkedin) // 2))
    vc_varied = set(rng.sample(sorted(vcard), len(vcard) // 2))

    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    email_to_person: dict[str, int] = {}
    li_path = os.path.join(out_dir, "linkedin.csv")
    gm_path = os.path.join(out_dir, "gmail.csv")
    vc_path = os.path.join(out_dir, "mac.vcf")
    with open(li_path, "w", encoding="utf-8", newline="") as li, \
            open(gm_path, "w", encoding="utf-8", newline="") as gm, \
            open(vc_path, "w", encoding="utf-8", newline="") as vc:
        li_w, gm_w = csv.writer(li), csv.writer(gm)
        li_w.writerow(LINKEDIN_HEADER)
        gm_w.writerow(GMAIL_HEADER)
        for i, p in enumerate(people):
            email_to_person[p["email"]] = i
            city, state, postal = p["city"]
            gm_w.writerow([p["first"], "", p["last"], "", "", "",
                           p["company"], "", "", "", p["email"], "Home",
                           p["phone"], "Mobile", f"{i % 97 + 1} Shore Rd",
                           city, state, postal, "US", "Home"])
            rows += 1
            if i in linkedin:
                first = (_variant(rng, p["first"]) if i in li_varied
                         else p["first"])
                li_w.writerow([first, p["last"],
                               f"https://linkedin.com/in/p{i}", p["email"],
                               p["company"], f"Title{i % 20}",
                               "03 Jan 2024"])
                rows += 1
            if i in vcard:
                first = (_variant(rng, p["first"]) if i in vc_varied
                         else p["first"])
                vc.write("BEGIN:VCARD\nVERSION:3.0\n"
                         f"FN:{first} {p['last']}\n"
                         f"N:{p['last']};{first};;;\n"
                         f"EMAIL;TYPE=INTERNET;TYPE=WORK:{p['email']}\n"
                         "END:VCARD\n")
                rows += 1
    truth = Truth(persons=persons, rows=rows,
                  email_to_person=email_to_person)
    with open(os.path.join(out_dir, "truth.json"), "w",
              encoding="utf-8") as fh:
        fh.write(truth.to_json())
    return truth
