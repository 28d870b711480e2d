"""Golden values replayed from the reference RSpec suite.

Literal expectations from the reference's spec/upton_spec.rb:14-40 and the
unit specs; fixture pages are read from ``upton_spark.sources.fixtures``'s
FIXTURE_DIR (the reference's spec/data when present, else the in-repo
``tests/fixtures/`` pages), mirroring the WebMock stubs at
spec/upton_spec.rb:44-53.
"""

from __future__ import annotations

import os

from upton_spark.sources.fixtures import BASE, FIXTURE_DIR

HEADLINES = [
    "Webinar: How to Use Prescriber Checkup to Power Your Reporting",
    "",
    "A Prosecutor, a Wrongful Conviction and a Question of Justice",
    "Six Facts Lost in the IRS Scandal",
]

MOST_COMMENTED_HEDS = [
    "Six Facts Lost in the IRS Scandal",
    "How the IRS’s Nonprofit Division Got So Dysfunctional",
    "Sound, Fury and the IRS Mess",
    "The Most Important #Muckreads on Rape in the Military",
    "Congressmen to Hagel: Where Are the Missing War Records?",
    "As Need for New Flood Maps Rises, Congress and Obama Cut Funding",
    "A Prosecutor, a Wrongful Conviction and a Question of Justice",
    "A Prolonged Stay: The Reasons Behind the Slow Pace of Executions",
    "The Story Behind Our Hospital Interactive",
    "irs-test-charts-for-embedding",
]

EAST_TIMOR_PRIME_MINISTERS = [
    ["#", "Portrait", "Name(Birth–Death)", "Term of Office", "Party", "1", "2", "3", "4"],
    [],
    ["", "Mari Alkatiri(b. 1949)", "20 May 2002", "26 June 2006[1]", "FRETILIN"],
    ["", "José Ramos-Horta(b. 1949)", "26 June 2006", "19 May 2007", "Independent"],
    ["", "Estanislau da Silva(b. 1952)", "19 May 2007", "8 August 2007", "FRETILIN"],
    ["", "Xanana Gusmão(b. 1946)", "8 August 2007", "Incumbent", "CNRT"],
]

SEARCH_RESULTS = [
    "Webinar: How to Use Prescriber Checkup to Power Your Reporting",
    "A Prosecutor, a Wrongful Conviction and a Question of Justice",
    "Six Facts Lost in the IRS Scandal",
]

TABLE_XPATH = (
    '//table[contains(concat(" ", normalize-space(@class), " "), " wikitable ")][2]'
)


def fixture_html(name: str) -> str:
    with open(os.path.join(FIXTURE_DIR, name), encoding="utf-8") as f:
        return f.read()


def fixture_bytes(name: str) -> bytes:
    with open(os.path.join(FIXTURE_DIR, name), "rb") as f:
        return f.read()
