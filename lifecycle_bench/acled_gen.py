"""Seeded synthetic ACLED days and a paged fake of the ACLED REST API.

Every value derives from ``(seed, day)``, so the same seed always
serves the same pages.  Cardinalities follow the real feed's shape at
one-country-group scale: 24 admin1, 120 admin2, 900 admin3 and 40
actors; fatalities are zero-heavy with a Pareto tail.  A small share of
rows carry malformed numeric strings in ``geo_precision`` and
``time_precision``: ``typed_cast`` turns them to NULL, and neither
column is covered by a check, so no check trips on them.
"""

from __future__ import annotations

import random
from datetime import date, datetime, timezone

from acled_spark.schema import VALID_EVENT_TYPES

N_ADMIN1, N_ADMIN2, N_ADMIN3, N_ACTORS = 24, 120, 900, 40
COUNTRIES = (
    ("Sudan", "729", "SDN", "Northern Africa"),
    ("Nigeria", "566", "NGA", "Western Africa"),
    ("Somalia", "706", "SOM", "Eastern Africa"),
    ("Mali", "466", "MLI", "Western Africa"),
    ("Yemen", "887", "YEM", "Middle East"),
    ("Syria", "760", "SYR", "Middle East"),
)
EVENT_WEIGHTS = (18, 26, 14, 12, 20, 10)  # max share 26% < the 80% dominance bound
SUB_EVENTS = {
    "Violence against civilians": ("Attack", "Abduction/forced disappearance"),
    "Battles": ("Armed clash", "Government regains territory"),
    "Explosions/Remote violence": ("Shelling/artillery/missile attack", "Air/drone strike"),
    "Riots": ("Violent demonstration", "Mob violence"),
    "Protests": ("Peaceful protest", "Protest with intervention"),
    "Strategic developments": ("Looting/property destruction", "Arrests"),
}
SOURCES = ("Local media", "National press", "NGO report", "Wire service", "Radio")
MALFORMED_SHARE = 0.01
CORRECTED_SHARE = 0.1


def _rng(seed: int, day: date, tag: str) -> random.Random:
    return random.Random(f"{seed}:{day.isoformat()}:{tag}")


def _fatalities(rng: random.Random) -> int:
    if rng.random() < 0.55:
        return 0
    return min(int(rng.paretovariate(1.2)), 600)


def _row(rng: random.Random, day: date, i: int, epoch: int) -> dict:
    a3 = int(N_ADMIN3 * rng.random() ** 1.6)  # skewed toward busy districts
    a2 = a3 * N_ADMIN2 // N_ADMIN3
    a1 = a2 * N_ADMIN1 // N_ADMIN2
    country, iso, iso3, region = COUNTRIES[a1 * len(COUNTRIES) // N_ADMIN1]
    event_type = rng.choices(VALID_EVENT_TYPES, EVENT_WEIGHTS)[0]
    inter1, inter2 = rng.randint(1, 8), rng.randint(0, 8)
    actor1 = f"Actor {int(N_ACTORS * rng.random() ** 2)}"
    actor2 = f"Actor {rng.randrange(N_ACTORS)}" if inter2 else ""
    geo = str(rng.randint(1, 3))
    tprec = str(rng.randint(1, 3))
    if rng.random() < MALFORMED_SHARE:
        geo = rng.choice(("n/a", "2.5x", ""))
    if rng.random() < MALFORMED_SHARE / 2:
        tprec = "?"
    fatalities = _fatalities(rng)
    return {
        "event_id_cnty": f"{iso3}{day:%Y%m%d}{i:05d}",
        "event_date": day.isoformat(),
        "year": str(day.year),
        "time_precision": tprec,
        "disorder_type": "Political violence" if event_type != "Protests" else "Demonstrations",
        "event_type": event_type,
        "sub_event_type": rng.choice(SUB_EVENTS[event_type]),
        "actor1": actor1,
        "assoc_actor_1": "",
        "inter1": str(inter1),
        "actor2": actor2,
        "assoc_actor_2": "",
        "inter2": str(inter2),
        "interaction": f"{inter1}{inter2}",
        "civilian_targeting": "Civilian targeting" if rng.random() < 0.2 else "",
        "iso": iso,
        "region": region,
        "country": country,
        "admin1": f"Province {a1:02d}",
        "admin2": f"District {a2:03d}",
        "admin3": f"Subdistrict {a3:03d}",
        "location": f"Town {a3:03d}-{rng.randrange(4)}",
        # district centres on a fixed grid, events jittered around them
        "latitude": f"{-5.0 + (a3 % 30) * 0.9 + rng.uniform(-0.2, 0.2):.4f}",
        "longitude": f"{10.0 + (a3 // 30) * 1.1 + rng.uniform(-0.2, 0.2):.4f}",
        "geo_precision": geo,
        "source": rng.choice(SOURCES),
        "source_scale": rng.choice(("Local", "National", "International")),
        "notes": f"{event_type} near Town {a3:03d}; {fatalities} reported killed.",
        "fatalities": str(fatalities),
        "tags": "",
        "timestamp": str(epoch + rng.randrange(86400)),
    }


def day_rows(seed: int, day: date, n_rows: int) -> list[dict]:
    """The original rows of one day, as the flattened API JSON."""
    rng = _rng(seed, day, "rows")
    epoch = int(datetime(day.year, day.month, day.day, tzinfo=timezone.utc).timestamp())
    return [_row(rng, day, i, epoch) for i in range(n_rows)]


def corrected_rows(seed: int, rows: list[dict]) -> list[dict]:
    """A replay of a day: same keys, ``fatalities``/``notes`` corrected on
    about a tenth of the rows."""
    out = []
    for r in rows:
        rng = random.Random(f"{seed}:{r['event_id_cnty']}:fix")
        if rng.random() < CORRECTED_SHARE:
            r = dict(r)
            r["fatalities"] = str(int(r["fatalities"]) + rng.randint(1, 3))
            r["notes"] = r["notes"] + " Toll revised after follow-up reports."
        out.append(r)
    return out


class PagedSource:
    """Fake paginated ACLED endpoint: ``(day, page, limit, params) -> rows``.

    Serves ``limit`` rows a page, so the client's page loop stops at the
    first short page.  ``serve`` sets what a day currently returns: a
    replay is the same call after the source has been corrected.
    """

    def __init__(self):
        self.days: dict[date, list[dict]] = {}

    def serve(self, day: date, rows: list[dict]) -> None:
        self.days[day] = rows

    def __call__(self, day: date, page: int, limit: int, params: dict) -> list[dict]:
        return self.days.get(day, [])[(page - 1) * limit : page * limit]
