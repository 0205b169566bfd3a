"""Physics column helpers — the wind and air-density terms of the
reference's power model (P5, P12) as pure Column math (no UDF).
Registry query ``physics_wind_density`` uses them.

Semantics transplanted (cited):
- wrap360 / deg→rad        reference core/src/physics.rs:7-18
- wind TO-convention projection, v_rel = max(v − wind_along, 0.1)
                           physics.rs:266-282 (loop), :52-77 (helpers)
- air density: barometric station pressure from MSLP, ρ = p/(R·T),
  clamp [0.6, 1.4]         physics.rs:84-103
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

G = 9.80665
R_AIR = 287.05
LAPSE = 0.0065


def wrap360(x: Column) -> Column:
    return F.pmod(x, F.lit(360.0))


def air_density(air_temp_c: Column, air_pressure_hpa: Column, altitude_m: Column) -> Column:
    """P12 (physics.rs:84-103): station pressure via barometric formula
    from MSLP, ρ = p/(R·T), clamped [0.6, 1.4]."""
    t_k = air_temp_c + 273.15
    p0 = air_pressure_hpa * 100.0
    h = F.greatest(altitude_m, F.lit(0.0))
    base = F.greatest(1.0 - (LAPSE * h) / t_k, F.lit(0.001))
    p_station = p0 * F.pow(base, G / (R_AIR * LAPSE))
    rho = p_station / (R_AIR * t_k)
    return F.least(F.greatest(rho, F.lit(0.6)), F.lit(1.4))


def wind_along(heading_deg: Column, wind_to_deg: Column, wind_ms: Column) -> Column:
    """P5 (physics.rs:271-277, TO-convention): along-track wind component."""
    delta = F.radians(wrap360(heading_deg - wrap360(wind_to_deg)))
    return F.greatest(wind_ms, F.lit(0.0)) * F.cos(delta)


def v_rel(v_ms: Column, heading_deg: Column, wind_to_deg: Column, wind_ms: Column) -> Column:
    """physics.rs:280: relative air speed, floored at 0.1."""
    return F.greatest(v_ms - wind_along(heading_deg, wind_to_deg, wind_ms), F.lit(0.1))
