"""Seeded two-day CSV feeds for the emission ETL, with their expected results.

Day 0 is the full reference envelope times ``scale`` (1,000 drivers /
999 vehicles / 5,000 logbook trips at x1) with trips spread over the
reference logbook's year. Day 1 re-delivers every day-0 dimension row, adds 5 % new drivers
and vehicles, and carries a logbook of the same size: half re-delivered
day-0 trips, half new trips dated the day after day 0's last date. Or,
for a pure re-delivery, day 1 is day 0 again.

The trap rates follow ``tools/gen_pipeline_feed.py``: null ``cylinders``
(5 %) and ``fuel_type`` (10 %) on vehicles and on the trips that use
them, 0.5 % duplicate natural keys per dimension feed, 1 % orphan
drivers, and the city ``Sharedville`` that exists in two countries.

The expected outcome of both ticks (rows inserted per table, FK
violations, total emission per brand) is computed here in plain
Python/NumPy from the generated values, never by the program under test.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

import numpy as np

VEHICLE_HEADER = (
    "BRAND,MODEL,VEHICLE CLASS,ENGINE SIZE L,CYLINDERS,TRANSMISSION,FUEL_TYPE,"
    '"FUEL CONSUMPTION (L/100 km)","HWY (L/100 km)","COMB (L/100 km)","COMB (mpg)",'
    "CO2_Emissions(g/km)"
)
LOGBOOK_HEADER = (
    "brand,model,engine_size_l,cylinders,fuel_type,transmission,name,first_name,"
    "start_city,start_country,target_city,target_country,distance_km,date"
)
COUNTRIES = ["Finland", "Germany", "France", "Sweden", "Norway"]
N_CITIES = 457
# the reference logbook's date range, 2014-01-12 .. 2015-01-10
FIRST_DAY = datetime.date(2014, 1, 12)
N_DAYS = 364
N_BRANDS = 40
FEED_DIRS = {
    "drivers": "drivers_incoming_data",
    "vehicles": "vehicle_fuel_consumptions_incoming_data",
    "logbook": "drivers_logbook_incoming_data",
}


def _vehicle_key(i: int) -> str:
    """Logbook-side 6-key of vehicle ``i`` (brand, model, engine, cylinders,
    fuel, transmission); empty fields are the null traps."""
    cylinders = "" if i % 20 == 0 else str(3 + i % 7)
    fuel = "" if i % 10 == 3 else "XZDE"[i % 4]
    return f"brand{i % N_BRANDS},model{i},{1.0 + (i % 74) / 10.0:.1f},{cylinders},{fuel},T{i % 9}"


def _vehicle_rows(i: int) -> list[str]:
    """Feed rows of vehicle ``i``: every 200th also appears a second time
    with a higher consumption. The pipeline keeps the lexicographically
    smallest non-key tuple, which is always the first row, so the
    vehicle's CO2 value is ``_co2(i)``."""
    brand, model, engine, cyl, fuel, trans = _vehicle_key(i).split(",")
    key = f"{brand},{model},class{i % 16},{engine},{cyl},{trans},{fuel}"
    cons = 5.0 + (i % 90) / 10.0
    rows = [f"{key},{cons:.1f},{cons - 1.5:.1f},{cons - 0.7:.1f},{int(282 / cons)},{_co2(i)}"]
    if i % 200 == 7:
        rows.append(
            f"{key},{cons + 2:.1f},{cons:.1f},{cons + 1:.1f},{int(240 / cons)},{120 + (i * 7) % 400}"
        )
    return rows


def _co2(i: int) -> int:
    return 100 + (i * 7) % 400


def _driver_rows(i: int) -> list[str]:
    rows = [f"name{i},first{i % 97},city{i % 450}"]
    if i % 200 == 0:  # duplicate (name, first_name) pair
        rows.append(f"name{i},first{i % 97},othercity")
    return rows


@dataclass
class Trips:
    """One logbook as column arrays. ``driver`` is -1 for an orphan
    (a name absent from the drivers dimension); ``dist`` is in tenths
    of a km; ``target`` 0 is Sharedville in Germany, ``start`` 0 is
    Sharedville in Finland."""

    trip_id: np.ndarray
    vehicle: np.ndarray
    driver: np.ndarray
    start: np.ndarray
    target: np.ndarray
    day: np.ndarray
    dist: np.ndarray

    def take(self, idx: np.ndarray) -> Trips:
        return Trips(*(getattr(self, f)[idx] for f in self.__dataclass_fields__))

    def concat(self, other: Trips) -> Trips:
        return Trips(
            *(np.concatenate([getattr(self, f), getattr(other, f)]) for f in self.__dataclass_fields__)
        )

    def __len__(self) -> int:
        return len(self.trip_id)


def _draw_trips(rng: np.random.Generator, first_id: int, n: int, n_vehicles: int, n_drivers: int) -> Trips:
    driver = rng.integers(0, n_drivers, n)
    driver[rng.random(n) < 0.01] = -1
    return Trips(
        trip_id=np.arange(first_id, first_id + n),
        vehicle=rng.integers(0, n_vehicles, n),
        driver=driver,
        start=rng.integers(0, N_CITIES, n),
        target=rng.integers(0, N_CITIES, n),
        day=rng.integers(0, N_DAYS, n),
        dist=rng.integers(5, 900, n),
    )


def _city(c: int, role: str) -> tuple[str, str]:
    if c == 0:
        return "Sharedville", COUNTRIES[0] if role == "start" else COUNTRIES[1]
    return f"city{c}", COUNTRIES[c % len(COUNTRIES)]


def _date(day: int) -> str:
    """Day index to date; index ``N_DAYS`` is the day after every day-0 date."""
    return (FIRST_DAY + datetime.timedelta(days=day)).isoformat()


def _write_logbook(path: str, trips: Trips) -> None:
    starts = [",".join(_city(c, "start")) for c in range(N_CITIES)]
    targets = [",".join(_city(c, "target")) for c in range(N_CITIES)]
    dates = [_date(d) for d in range(N_DAYS + 1)]
    vkeys: dict[int, str] = {}
    with open(path, "w") as f:
        f.write(LOGBOOK_HEADER + "\n")
        for tid, v, d, s, t, day, dist in zip(
            trips.trip_id.tolist(),
            trips.vehicle.tolist(),
            trips.driver.tolist(),
            trips.start.tolist(),
            trips.target.tolist(),
            trips.day.tolist(),
            trips.dist.tolist(),
        ):
            vk = vkeys.get(v)
            if vk is None:
                vk = vkeys[v] = _vehicle_key(v)
            who = f"ghost{tid},Bob" if d < 0 else f"name{d},first{d % 97}"
            f.write(f"{vk},{who},{starts[s]},{targets[t]},{dist // 10}.{dist % 10},{dates[day]}\n")


def _write_dims(root: str, n_drivers: int, n_vehicles: int) -> None:
    with open(os.path.join(root, FEED_DIRS["drivers"], "drivers.csv"), "w") as f:
        f.write("name,first_name,city\n")
        for i in range(n_drivers):
            f.write("\n".join(_driver_rows(i)) + "\n")
    with open(os.path.join(root, FEED_DIRS["vehicles"], "vehicles.csv"), "w") as f:
        f.write(VEHICLE_HEADER + "\n")
        for i in range(n_vehicles):
            f.write("\n".join(_vehicle_rows(i)) + "\n")


def _fact_keys(t: Trips) -> np.ndarray:
    """The fact's 7-id natural key packed into one int64. Car, driver,
    city and country ids are bijections of vehicle, driver and city
    indices (a city index fixes its country), and the date id of the day."""
    bits = (17, 17, 9, 9, 10)
    parts = (t.vehicle, t.driver + 1, t.start, t.target, t.day)
    key = np.zeros(len(t), dtype=np.int64)
    for width, part in zip(bits, parts):
        if len(part) and int(part.max()) >= 1 << width:
            raise ValueError("feed too large for the packed fact key")
        key = (key << width) | part.astype(np.int64)
    return key


def _survivors(t: Trips) -> tuple[np.ndarray, np.ndarray]:
    """In-batch dedup on the fact key: the shortest trip survives
    (tiebreaker distance_km, then total_emission, which is the same
    for one car). Returns (sorted unique keys, surviving row index)."""
    key = _fact_keys(t)
    order = np.lexsort((t.dist, key))
    uniq, first = np.unique(key[order], return_index=True)
    return uniq, order[first]


def _countries_and_cities(t: Trips) -> tuple[set[str], set[tuple[str, str]]]:
    cities = {_city(c, "start") for c in np.unique(t.start).tolist()}
    cities |= {_city(c, "target") for c in np.unique(t.target).tolist()}
    return {country for _, country in cities}, cities


@dataclass
class Expected:
    """Outcome of the cold tick (day 0) then the incremental tick (day 1)."""

    inserted: list[dict[str, int]]
    fk_violations: int
    emission_by_brand: dict[str, float]
    cars_in_fact: int
    driver_groups: int
    feed_rows: list[int]


def write_feeds(root: str, scale: float, seed: int, new_rows: bool = True) -> Expected:
    """Write ``root/day0`` and ``root/day1`` (each holding the three feed
    dirs the pipeline reads) and return what the two ticks must produce.

    With ``new_rows`` false, day 1 is day 0 delivered again (its logbook
    reordered), so the incremental tick must insert nothing."""
    rng = np.random.default_rng([seed, int(scale * 1000)])
    n_d0, n_v0, n_t = round(1000 * scale), round(999 * scale), round(5000 * scale)
    day0 = _draw_trips(rng, 0, n_t, n_v0, n_d0)
    if new_rows:
        n_d1, n_v1 = n_d0 + round(0.05 * n_d0), n_v0 + round(0.05 * n_v0)
        redelivered = day0.take(rng.choice(n_t, n_t // 2, replace=False))
        new = _draw_trips(rng, n_t, n_t - n_t // 2, n_v1, n_d1)
        new.day[:] = N_DAYS  # the new trips are the next day's
        day1 = redelivered.concat(new).take(rng.permutation(n_t))
    else:
        n_d1, n_v1 = n_d0, n_v0
        day1 = day0.take(rng.permutation(n_t))

    for name, trips, n_d, n_v in (("day0", day0, n_d0, n_v0), ("day1", day1, n_d1, n_v1)):
        for sub in FEED_DIRS.values():
            os.makedirs(os.path.join(root, name, sub), exist_ok=True)
        _write_dims(os.path.join(root, name), n_d, n_v)
        _write_logbook(os.path.join(root, name, FEED_DIRS["logbook"], "logbook.csv"), trips)

    keys0, rows0 = _survivors(day0)
    keys1, rows1 = _survivors(day1)
    fresh = ~np.isin(keys1, keys0)
    fact = day0.take(rows0).concat(day1.take(rows1[fresh]))

    countries0, cities0 = _countries_and_cities(day0)
    countries1, cities1 = _countries_and_cities(day1)
    co2 = np.array([_co2(i) for i in range(n_v1)], dtype=np.float64)
    emission = (fact.dist / 10.0) * co2[fact.vehicle]
    by_brand = np.bincount(fact.vehicle % N_BRANDS, weights=emission, minlength=N_BRANDS)
    present = np.bincount(fact.vehicle % N_BRANDS, minlength=N_BRANDS) > 0

    def dup_rows(n: int, offset: int) -> int:
        return sum(1 for i in range(n) if i % 200 == offset)

    return Expected(
        inserted=[
            {
                "drivers": n_d0,
                "cars": n_v0,
                "country": len(countries0),
                "city": len(cities0),
                "car_driver_log": len(keys0),
            },
            {
                "drivers": n_d1 - n_d0,
                "cars": n_v1 - n_v0,
                "country": len(countries1 - countries0),
                "city": len(cities1 - cities0),
                "car_driver_log": int(fresh.sum()),
            },
        ],
        fk_violations=0,
        emission_by_brand={f"brand{b}": float(by_brand[b]) for b in range(N_BRANDS) if present[b]},
        cars_in_fact=len(np.unique(fact.vehicle)),
        driver_groups=len(np.unique(fact.driver)),
        feed_rows=[
            n_d + dup_rows(n_d, 0) + n_v + dup_rows(n_v, 7) + n_t
            for n_d, n_v in ((n_d0, n_v0), (n_d1, n_v1))
        ],
    )
