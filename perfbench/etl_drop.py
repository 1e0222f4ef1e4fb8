"""Seeded generator for one day's CRM drop and its expected-answer manifest.

The drop holds the two reports of the reference's daily load in their
dirty arrival form:

- `tbl_conducta_diaria.csv`: latin-1, `;`-separated, the CRM's own
  headers (`Campaña`, `% In`, `Tiempo Medio De Respuesta In`, ...), the
  `llamados_con_hold` pair absent as in the real export;
- `tbl_estados_operativos.csv`: UTF-8, `,`-separated, 32 columns.

Values carry the dirt the conform pipeline exists for: `-`, blanks,
`nan`/`None` and garbage in numeric and duration cells, durations as
`HH:MM:SS`, `H:MM` or plain minutes, day-first dates in two widths. A
fixed share of rows is deliberately bad: an unparseable or impossible
date, a blank date, or an all-blank line. Those rows must not survive.

The manifest records, per report and per `fecha`, the rows that must
survive and the sum of every coerced duration column in minutes, plus
the number of bad rows. It is computed here from the generated values,
independently of the engine's coercion code.

    python3 perfbench/etl_drop.py <out_dir> <seed>
"""
import datetime as dt
import json
import os
import sys

import numpy as np

CONDUCTA_HEADER = [
    "Agente", "Fecha", "ID", "Campaña", "In", "% In",
    "In Rechazadas / Ignoradas", "% In Rechazadas / Ignoradas",
    "In Atendidas", "% In Atendidas", "Out", "% Out",
    "Out Rechazadas / Ignoradas", "% Out Rechazadas / Ignoradas",
    "Out Atendidas", "% Out Atendidas", "Out Dialing", "% Out Dialing",
    "Tiempo Medio De Respuesta In", "Tiempo Medio De Respuesta Out"]
CONDUCTA_TIMES = ["tiempo_medio_respuesta_in", "tiempo_medio_respuesta_out"]

_T = ["Login", "Login Neto", "Available", "Preview", "Dialing", "Ringing",
      "Talking", "Talking In", "Talking Out", "Hold", "ACW", "Other CRM",
      "Pause"]
ESTADOS_HEADER = (["Fecha", "Intervalo", "ID", "Agente", "ID Campaña", "Campaña"]
                  + [f"T {t}" for t in _T] + [f"T Diario {t}" for t in _T])
ESTADOS_TIMES = ([f"t_{t.lower().replace(' ', '_')}" for t in _T]
                 + [f"t_diario_{t.lower().replace(' ', '_')}" for t in _T])

FIRST_NAMES = ["Juan", "María", "José", "Ana", "Luis", "Lucía", "Jorge",
               "Sofía", "Andrés", "Camila", "Ñandú", "Iñaki"]
LAST_NAMES = ["Pérez", "García", "López", "Muñoz", "Rodríguez", "Núñez",
              "Gómez", "Díaz", "Peña", "Ibáñez"]
CAMPAIGNS = ["Ventas", "Café", "Niño", "Cobranza", "Retención", "Soporte"]
BAD_DATES = ["not-a-date", "31/02/2024", "2024-13-45", "", "  "]
NULL_TOKENS = ["-", "", "nan", "None"]
GARBAGE = ["x", "junk", "1:xx", "1:2:3:4", "n/a"]

N_DATES = 28
FIRST_DATE = dt.date(2024, 3, 1)
BAD_SHARE = 0.04
POOL = 4096


def _pool(rng, draw):
    """POOL (text, value) pairs from `draw`; rows sample the pool, which
    keeps generation vectorized and the value mix fixed."""
    pairs = [draw(rng) for _ in range(POOL)]
    return (np.array([p[0] for p in pairs], dtype=object),
            np.array([p[1] for p in pairs], dtype=np.float64))


def _duration(rng):
    """(raw text, minutes) for one duration cell."""
    r = rng.random()
    if r < 0.45:
        h, m, s = (int(x) for x in rng.integers(0, [10, 60, 60]))
        return f"{h:02d}:{m:02d}:{s:02d}", h * 60 + m + s / 60
    if r < 0.70:
        h, m = (int(x) for x in rng.integers(0, [10, 60]))
        return f"{h}:{m:02d}", float(h * 60 + m)
    if r < 0.85:
        v = round(float(rng.uniform(0, 600)), 1)
        return f"{v}", v
    if r < 0.95:
        return NULL_TOKENS[rng.integers(0, len(NULL_TOKENS))], 0.0
    return GARBAGE[rng.integers(0, len(GARBAGE))], 0.0


def _number(rng, draw):
    """A count or percent cell: mostly `draw()`, else a null token or
    garbage (coerced to 0; the value half of the pair is unused)."""
    if rng.random() < 0.9:
        return draw(), 0.0
    return (NULL_TOKENS + GARBAGE)[rng.integers(0, 9)], 0.0


def _fechas(rng, n):
    """Raw date texts and the iso fecha each must parse to ('' = bad row)."""
    days = [FIRST_DATE + dt.timedelta(days=k) for k in range(N_DATES)]
    texts = np.array([d.strftime("%d/%m/%Y") for d in days]
                     + [f"{d.day}/{d.month}/{d.year}" for d in days]
                     + BAD_DATES, dtype=object)
    isos = np.array([d.isoformat() for d in days] * 2 + [""] * len(BAD_DATES),
                    dtype=object)
    idx = rng.integers(0, 2 * N_DATES, n)
    bad = rng.random(n) < BAD_SHARE
    idx[bad] = 2 * N_DATES + rng.integers(0, len(BAD_DATES), int(bad.sum()))
    return texts[idx], isos[idx]


def _report(rng, n, header, sep, fixed, times, manifest, key):
    """Rows of one report: `fixed` yields the leading non-duration
    columns, then one column per duration in `times`."""
    raw, iso = _fechas(rng, n)
    cols = fixed(raw)
    pool_t, pool_m = _pool(rng, _duration)
    minutes = np.zeros((n, len(times)))
    for j in range(len(times)):
        idx = rng.integers(0, POOL, n)
        cols.append(pool_t[idx])
        minutes[:, j] = pool_m[idx]
    blank = rng.random(n) < 0.005  # all-blank lines: dropna(how='all')
    empty = sep * (len(header) - 1)
    lines = [sep.join(header)]
    lines += [empty if b else sep.join(r) for b, r in zip(blank, zip(*cols))]
    good = (iso != "") & ~blank
    side = {}
    for d in sorted(set(iso[good])):
        sel = good & (iso == d)
        side[d] = {"rows": int(sel.sum()),
                   "minutes": {c: float(minutes[sel, j].sum())
                               for j, c in enumerate(times)}}
    manifest[key] = {"bad_rows": int(n - good.sum()), "raw_rows": n,
                     "by_fecha": side}
    return "\n".join(lines) + "\n"


def _conducta(rng, n, manifest):
    names = np.array([f"{a} {b}" for a in FIRST_NAMES for b in LAST_NAMES],
                     dtype=object)
    counts, _ = _pool(rng, lambda r: _number(r, lambda: str(r.integers(0, 500))))
    pcts, _ = _pool(rng, lambda r: _number(
        r, lambda: f"{round(float(r.uniform(0, 100)), 1)}"))
    camps = np.array(CAMPAIGNS, dtype=object)

    def fixed(raw):
        cols = [names[rng.integers(0, len(names), n)], raw,
                np.array([str(1000 + i) for i in range(n)], dtype=object),
                camps[rng.integers(0, len(camps), n)]]
        for k in range(14):
            cols.append((counts if k % 2 == 0 else pcts)[rng.integers(0, POOL, n)])
        return cols
    return _report(rng, n, CONDUCTA_HEADER, ";", fixed, CONDUCTA_TIMES,
                   manifest, "conducta")


def _estados(rng, n, manifest):
    names = np.array([f"{a} {b}" for a in FIRST_NAMES for b in LAST_NAMES],
                     dtype=object)
    counts, _ = _pool(rng, lambda r: _number(r, lambda: str(r.integers(0, 500))))
    camps = np.array(CAMPAIGNS, dtype=object)
    slots = np.array([f"{h:02d}:00 - {h:02d}:30" for h in range(8, 20)],
                     dtype=object)

    def fixed(raw):
        return [raw, slots[rng.integers(0, len(slots), n)],
                np.array([str(5000 + i) for i in range(n)], dtype=object),
                names[rng.integers(0, len(names), n)],
                counts[rng.integers(0, POOL, n)],
                camps[rng.integers(0, len(camps), n)]]
    return _report(rng, n, ESTADOS_HEADER, ",", fixed, ESTADOS_TIMES,
                   manifest, "estados")


def generate(out_dir, seed, conducta_rows=5_000, estados_rows=20_000):
    """Write the drop and `manifest.json` under `out_dir`; return the manifest."""
    rng = np.random.default_rng(seed)
    manifest = {"seed": seed}
    os.makedirs(out_dir, exist_ok=True)
    files = {
        "tbl_conducta_diaria.csv":
            _conducta(rng, conducta_rows, manifest).encode("latin-1"),
        "tbl_estados_operativos.csv":
            _estados(rng, estados_rows, manifest).encode("utf-8"),
    }
    for name, data in files.items():
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
    manifest["input_bytes"] = sum(len(d) for d in files.values())
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


if __name__ == "__main__":
    args = sys.argv[1:]
    m = generate(args[0], int(args[1]))
    print(json.dumps({k: {"bad_rows": v["bad_rows"], "fechas": len(v["by_fecha"])}
                      for k, v in m.items() if isinstance(v, dict)}))
