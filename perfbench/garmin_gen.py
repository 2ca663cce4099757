"""Seeded Garmin-shaped bronze generator (FIXTURES.md section A shapes).

One athlete: activities spread over consecutive days, each activity a
directory ``activity/<id>/`` holding ``activity.json``, ``splits.json``,
``hr_zones.json``, ``weather.json`` and ``activity_details.json``.
``daily_wellness`` and ``athlete_profile`` do not come from activity JSON,
so they are written as silver rows (JSON lines) under ``silver_rows/``.

The same seed always gives byte-identical files: every value comes from one
``random.Random(seed)`` stream and JSON is written with fixed separators.
"""
import datetime as dt
import json
import os
import random

FIRST_ID = 20_000_000_000
START = dt.datetime(2024, 1, 1, 6, 30)
LABELS = ["AEROBIC_BASE", "TEMPO", "THRESHOLD", "RECOVERY", "VO2MAX"]
METRIC_KEYS = [
    ("directHeartRate", "bpm"), ("directSpeed", "mps"),
    ("directDoubleCadence", "spm"), ("directPower", "watt"),
    ("directGroundContactTime", "ms"), ("directVerticalOscillation", "cm"),
    ("directVerticalRatio", "percent"), ("directElevation", "meter"),
    ("directAirTemperature", "celsius"), ("sumDuration", "second"),
    ("sumDistance", "meter"), ("directBodyBattery", "dimensionless"),
]
COMPASS = ["N", "NE", "E", "SE", "S", "SW", "W", "NW"]


def _dump(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, separators=(",", ":"))


def _r(x, nd=2):
    return round(x, nd)


def activity_files(rng, aid, day, ts_rows):
    """Return {file name: JSON object} and the truth row for one activity."""
    start = START + dt.timedelta(days=day, minutes=rng.randrange(0, 180))
    label = rng.choice(LABELS)
    n_laps = rng.randint(6, 12)
    base_speed = rng.uniform(2.6, 3.6)
    base_hr = rng.uniform(135, 155)
    labelled = rng.random() >= 0.3  # 30 % of runs omit intensityType
    laps, t_off = [], 0.0
    for i in range(n_laps):
        if i < 2:
            kind, f_speed, f_hr = "WARMUP", 0.85, 0.9
        elif i >= n_laps - 2:
            kind, f_speed, f_hr = "COOLDOWN", 0.85, 0.9
        elif label in ("VO2MAX", "THRESHOLD") and i % 2 == 0:
            kind, f_speed, f_hr = "INTERVAL", 1.2, 1.12
        elif label in ("VO2MAX", "THRESHOLD"):
            kind, f_speed, f_hr = "RECOVERY", 0.7, 0.95
        else:
            kind, f_speed, f_hr = "ACTIVE", 1.0, 1.0
        dist = 1000.0 if i < n_laps - 1 else _r(rng.uniform(200, 1000), 1)
        speed = _r(base_speed * f_speed * rng.uniform(0.95, 1.05), 3)
        dur = _r(dist / speed, 1)
        hr = _r(base_hr * f_hr * rng.uniform(0.97, 1.03), 0)
        lap = {
            "lapIndex": i + 1, "distance": dist, "duration": dur,
            "startTimeGMT": (start + dt.timedelta(seconds=t_off)).isoformat(),
            "averageSpeed": speed,
            "avgGradeAdjustedSpeed": _r(speed * rng.uniform(0.98, 1.03), 3),
            "averageHR": hr, "maxHR": hr + rng.randint(3, 12),
            "averageRunCadence": _r(rng.uniform(165, 190), 1),
            "maxRunCadence": _r(rng.uniform(190, 200), 1),
            "averagePower": _r(rng.uniform(200, 300), 1),
            "maxPower": _r(rng.uniform(300, 380), 1),
            "normalizedPower": _r(rng.uniform(210, 310), 1),
            "strideLength": _r(rng.uniform(85, 120), 1),
            "groundContactTime": _r(rng.uniform(220, 280), 1),
            "verticalOscillation": _r(rng.uniform(7, 10), 2),
            "verticalRatio": _r(rng.uniform(7, 10), 2),
            "elevationGain": _r(rng.uniform(0, 25), 1),
            "elevationLoss": _r(rng.uniform(0, 25), 1),
        }
        if labelled:
            lap["intensityType"] = kind
        laps.append(lap)
        t_off += dur
    distance = _r(sum(l["distance"] for l in laps), 1)
    duration = _r(sum(l["duration"] for l in laps), 1)
    hrs = [l["averageHR"] for l in laps]
    activity = {
        "activityId": aid, "activityName": f"Run {aid - FIRST_ID}",
        "activityTypeDTO": {"typeId": 1, "typeKey": "running",
                            "parentTypeId": 17},
        "locationName": rng.choice(["Tokyo", "Yokohama", "Kawasaki"]),
        "summaryDTO": {
            "distance": distance, "duration": duration,
            "averageSpeed": _r(distance / duration, 3),
            "averageHR": _r(sum(hrs) / len(hrs), 0), "maxHR": max(hrs) + 8,
            "minHR": min(hrs) - 20,
            "startTimeLocal": (start + dt.timedelta(hours=9)).isoformat(),
            "startTimeGMT": start.isoformat(),
            "trainingEffectLabel": label,
        },
    }
    lows = [rng.randint(95, 100)]
    for _ in range(4):
        lows.append(lows[-1] + rng.randint(16, 22))
    secs = [rng.uniform(0.05, 0.4) * duration for _ in range(5)]
    hr_zones = [{"zoneNumber": z + 1, "zoneLowBoundary": lows[z],
                 "secsInZone": _r(secs[z], 1)} for z in range(5)]
    temp_f = rng.randint(25, 95)
    weather = {"temp": temp_f, "apparentTemp": temp_f - rng.randint(0, 5),
               "dewPoint": temp_f - rng.randint(5, 20),
               "relativeHumidity": rng.randint(30, 95),
               "windSpeed": rng.randint(0, 30),
               "windDirection": rng.randint(0, 359),
               "windDirectionCompassPoint": rng.choice(COMPASS),
               "weatherStationDTO": {"id": "RJTT", "name": "Tokyo Intl"}}
    temp_c = (temp_f - 32) * 5 / 9
    step = duration / ts_rows
    rows = []
    for k in range(ts_rows):
        sp = base_speed * rng.uniform(0.9, 1.1)
        rows.append({"metrics": [
            round(base_hr + 15 * k / ts_rows + rng.uniform(-4, 4)),
            _r(sp, 3), round(rng.uniform(165, 190)) * 2,
            round(rng.uniform(200, 320)),
            _r(rng.uniform(220, 280), 1), _r(rng.uniform(7, 10), 2),
            _r(rng.uniform(7, 10), 2), _r(rng.uniform(5, 40), 1),
            _r(temp_c + rng.uniform(-1, 1), 1), _r(k * step, 1),
            _r(distance * k / ts_rows, 1), rng.randint(5, 100)]})
    details = {
        "activityId": aid, "measurementCount": ts_rows,
        "metricsCount": len(METRIC_KEYS),
        "metricDescriptors": [
            {"metricsIndex": i, "key": k,
             "unit": {"id": i, "key": u, "factor": 0.1 if k == "directSpeed" else 1.0}}
            for i, (k, u) in enumerate(METRIC_KEYS)],
        "activityDetailMetrics": rows}
    truth = {"activity_id": aid, "date": (start + dt.timedelta(hours=9)).date().isoformat(),
             "distance_m": distance, "laps": n_laps, "ts_rows": ts_rows}
    files = {"activity.json": activity, "splits.json": {"activityId": aid, "lapDTOs": laps},
             "hr_zones.json": hr_zones, "weather.json": weather,
             "activity_details.json": details}
    return files, truth


def write_activities(root, seed, count, ts_min, ts_max, days_apart):
    """Write ``count`` activities, one every ``days_apart`` days; return
    their truth rows. Each activity draws from its own stream seeded by
    (seed, index)."""
    truth = []
    for i in range(count):
        rng = random.Random(f"{seed}:{i}")
        aid = FIRST_ID + i
        files, t = activity_files(rng, aid, i * days_apart,
                                  rng.randint(ts_min, ts_max))
        d = os.path.join(root, "activity", str(aid))
        os.makedirs(d, exist_ok=True)
        for name, obj in files.items():
            _dump(os.path.join(d, name), obj)
        truth.append(t)
    return truth


def write_silver_rows(root, seed, days):
    """daily_wellness and athlete_profile rows, JSON lines."""
    rng = random.Random(f"{seed}:wellness")
    d = os.path.join(root, "silver_rows")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "daily_wellness.jsonl"), "w") as f:
        for k in range(days):
            base = rng.uniform(45, 60)
            f.write(json.dumps({
                "date": (START.date() + dt.timedelta(days=k)).isoformat(),
                "resting_hr": _r(rng.uniform(44, 56), 1),
                "hrv_overnight": _r(base + rng.uniform(-10, 8), 1),
                "hrv_status": rng.choice(["BALANCED", "UNBALANCED", "LOW"]),
                "hrv_baseline_low": _r(base - 5, 1),
                "hrv_baseline_high": _r(base + 8, 1),
                "sleep_seconds": rng.randint(18000, 32000),
                "sleep_score": rng.randint(40, 95),
                "readiness": rng.randint(20, 95),
                "body_battery_high": rng.randint(60, 100),
                "body_battery_low": rng.randint(5, 40),
                "stress_avg": rng.randint(15, 60), "source": "garmin"},
                separators=(",", ":")) + "\n")
    with open(os.path.join(d, "athlete_profile.jsonl"), "w") as f:
        f.write(json.dumps({
            "user_id": "default", "current_focus": "marathon",
            "focus_notes": "base build", "week_start_day": rng.randint(0, 6),
            "updated_at": "2025-01-01T00:00:00", "weight_kg": _r(rng.uniform(55, 75), 1),
            "max_hr": rng.randint(180, 195), "resting_hr": rng.randint(44, 52)},
            separators=(",", ":")) + "\n")
