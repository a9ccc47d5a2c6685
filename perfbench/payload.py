"""Seeded OpenSky `states/all` payloads and their expected aggregates.

A body is the JSON envelope `{"time": T, "states": [[...], ...]}` with one
17-field state vector per aircraft, in the field order of the OpenSky REST
API. Null rates follow what the live API returns: positions go missing
together, aircraft on the ground have no barometric altitude or vertical
rate, most squawks and all sensor lists are absent, and callsigns are
padded with spaces to 8 characters.

The envelope time is written by the stub per request, so one body can be
served as many distinct snapshots; the aggregates do not depend on it.
"""
import random
import zlib

COUNTRIES = (
    ["United States"] * 30 + ["Germany"] * 6 + ["United Kingdom"] * 6
    + ["France"] * 4 + ["China"] * 5 + ["Canada"] * 3 + ["Spain"] * 3
    + ["Japan"] * 2 + ["Brazil"] * 2 + ["India"] * 2 + ["Australia"] * 2
    + ["Kingdom of the Netherlands", "Ireland", "Turkey", "Mexico",
       "Switzerland", "Italy", "Republic of Korea", "Russian Federation"])
AIRLINES = ["UAL", "DAL", "AAL", "SWA", "DLH", "BAW", "AFR", "RYR",
            "EZY", "KLM", "CCA", "ACA", "JAL", "QFA", "THY", "N"]


def _num(x, fmt):
    return "null" if x is None else fmt % x


def make_states(seed, n, now=1700000000):
    """Return (states_json_bytes, aggregates) for `n` aircraft.

    aggregates = {"rows", "icao24_crc32_sum", "vertical_rate_count",
    "time_position_sum"}: what a correct ingest of the body must hold.
    """
    rng = random.Random(seed)
    icaos = rng.sample(range(1 << 24), n)
    parts = []
    crc_sum = vr_count = tp_sum = 0
    for code in icaos:
        icao = "%06x" % code
        crc_sum += zlib.crc32(icao.encode())
        r = rng.random()
        callsign = None if r < 0.02 else (
            "%s%d" % (rng.choice(AIRLINES), rng.randrange(1, 9999))).ljust(8)
        has_pos = rng.random() >= 0.03
        on_ground = rng.random() < 0.08
        time_position = now - rng.randrange(0, 30) if has_pos else None
        if time_position is not None:
            tp_sum += time_position
        last_contact = now - rng.randrange(0, 5)
        lon = rng.uniform(-180, 180) if has_pos else None
        lat = rng.uniform(-60, 75) if has_pos else None
        baro = None if on_ground or rng.random() < 0.02 else rng.uniform(0, 12500)
        velocity = None if rng.random() < 0.01 else rng.uniform(0, 280)
        track = None if rng.random() < 0.01 else rng.uniform(0, 360)
        vrate = None if on_ground or rng.random() < 0.01 else rng.uniform(-25, 25)
        if vrate is not None:
            vr_count += 1
        geo = None if baro is None or rng.random() < 0.05 else baro + rng.uniform(-150, 150)
        squawk = None if rng.random() < 0.35 else '"%04o"' % rng.randrange(0, 4096)
        source = 2 if rng.random() < 0.03 else 0
        parts.append('["%s",%s,"%s",%s,%d,%s,%s,%s,%s,%s,%s,%s,null,%s,%s,false,%d]' % (
            icao, "null" if callsign is None else '"%s"' % callsign,
            rng.choice(COUNTRIES), _num(time_position, "%d"), last_contact,
            _num(lon, "%.4f"), _num(lat, "%.4f"), _num(baro, "%.2f"),
            "true" if on_ground else "false", _num(velocity, "%.2f"),
            _num(track, "%.2f"), _num(vrate, "%.2f"), _num(geo, "%.2f"),
            "null" if squawk is None else squawk, source))
    states = ("[" + ",".join(parts) + "]").encode()
    return states, {"rows": n, "icao24_crc32_sum": crc_sum,
                    "vertical_rate_count": vr_count,
                    "time_position_sum": tp_sum}


def envelope(snapshot_time, states):
    """The full response body for one request."""
    return b'{"time":%d,"states":' % snapshot_time + states + b"}"
