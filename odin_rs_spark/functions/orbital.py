"""Orbital-geometry column functions (SURVEY §2.9 "Orbital"; parity
targets: swath half-width from scan angle odin_orbital/src/
overpass.rs:535, inclination helpers overpass.rs:539-546, TLE
propagation odin_orbital/src/lib.rs:399-427).

Two layers:

- closed-form spherical geometry (public textbook formulas) as JVM
  column expressions, and
- a near-Earth SGP4 propagator (the public algorithm of Spacetrack
  Report #3, Hoots & Roehrich 1980, with the corrections of Vallado et
  al. 2006 "Revisiting Spacetrack Report #3", AIAA 2006-6753; WGS-72
  constants) as a fully VECTORIZED numpy pandas UDF — every TLE element
  is a column, so one Arrow batch propagates millions of (satellite,
  time) rows with no per-row Python. The reference wraps the sgp4 crate
  for the same math; this is an independent implementation from the
  published equations (no sgp4/skyfield libs exist in this container).

Deep-space (SDP4, period > 225 min) is out of scope — the engine's
overpass queries (J8/J3) target LEO imaging constellations, matching
the reference's usage.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

from odin_rs_spark.functions.geo import EARTH_RADIUS_KM, _col


def swath_half_width_km(scan_angle_rad: Column | str | float, altitude_km: Column | str | float) -> Column:
    """Ground half-width of a side-scanning sensor: Earth-central angle
    λ = asin((Re+h)/Re · sin(scan)) − scan, arc = Re·λ. (Standard
    spherical look-angle geometry; e.g. VIIRS scan 56.28°, h 833 km →
    ≈1550 km half, 3060 km swath.)"""
    scan = F.lit(scan_angle_rad) if isinstance(scan_angle_rad, (int, float)) else _col(scan_angle_rad)
    h = F.lit(altitude_km) if isinstance(altitude_km, (int, float)) else _col(altitude_km)
    ratio = (F.lit(EARTH_RADIUS_KM) + h) / F.lit(EARTH_RADIUS_KM)
    lam = F.asin(F.least(ratio * F.sin(scan), F.lit(1.0))) - scan
    return F.lit(EARTH_RADIUS_KM) * lam


def max_reachable_latitude_deg(inclination_deg: Column | str | float) -> Column:
    """Highest geodetic latitude a ground track reaches: the inclination
    itself for prograde (< 90°), its supplement for retrograde orbits
    (sun-synchronous ~98° → 82°)."""
    inc = F.lit(inclination_deg) if isinstance(inclination_deg, (int, float)) else _col(inclination_deg)
    return F.least(inc, F.lit(180.0) - inc)


def orbital_period_min(altitude_km: Column | str | float) -> Column:
    """Circular-orbit period in minutes: 2π√(a³/μ), a = Re+h,
    μ = 398600.4418 km³/s²."""
    h = F.lit(altitude_km) if isinstance(altitude_km, (int, float)) else _col(altitude_km)
    a = F.lit(EARTH_RADIUS_KM) + h
    return F.lit(2.0 * 3.141592653589793) * F.sqrt(F.pow(a, 3) / F.lit(398600.4418)) / F.lit(60.0)


# ---------------------------------------------------------------------------
# SGP4 (near-Earth) — public algorithm, WGS-72 constants
# ---------------------------------------------------------------------------

# WGS-72 gravity model (the constant set the published test vectors use)
_MU_KM3_S2 = 398600.8
_RE_KM = 6378.135
_XKE = 60.0 / math.sqrt(_RE_KM**3 / _MU_KM3_S2)  # sqrt(GM) in (earth radii)^1.5/min
_J2 = 0.001082616
_J3 = -0.00000253881
_J4 = -0.00000165597
_J3OJ2 = _J3 / _J2
_TWOPI = 2.0 * math.pi


def parse_tle(line1: str, line2: str) -> dict:
    """Parse a two-line element set into SGP4 inputs (angles in radians,
    mean motion in rad/min). Fixed-column TLE format (public spec)."""

    def _impl_decimal(fld: str) -> float:
        # " 13844-3" means 0.13844e-3 (implied leading decimal point)
        fld = fld.strip()
        if not fld or fld in {"+", "-"}:
            return 0.0
        sign = -1.0 if fld[0] == "-" else 1.0
        body = fld.lstrip("+-")
        mant, _, exp = body.partition("-") if "-" in body else body.partition("+")
        e = int(exp) * (-1 if "-" in body else 1) if exp else 0
        return sign * float(f"0.{mant}") * 10.0**e

    epoch_yy = int(line1[18:20])
    year = 2000 + epoch_yy if epoch_yy < 57 else 1900 + epoch_yy
    epoch_days = float(line1[20:32])
    # JD of Jan 0.0 of `year` + fractional day-of-year
    a = (14 - 1) // 12
    y = year + 4800 - a
    m = 1 + 12 * a - 3
    jd_jan1 = 1 + (153 * m + 2) // 5 + 365 * y + y // 4 - y // 100 + y // 400 - 32045
    jd_epoch = (jd_jan1 - 0.5 - 1.0) + epoch_days
    return {
        "sat_id": int(line1[2:7]),
        "jd_epoch": jd_epoch,
        "bstar": _impl_decimal(line1[53:61]),
        "inclo": math.radians(float(line2[8:16])),
        "nodeo": math.radians(float(line2[17:25])),
        "ecco": float(f"0.{line2[26:33].strip()}"),
        "argpo": math.radians(float(line2[34:42])),
        "mo": math.radians(float(line2[43:51])),
        "no_kozai": float(line2[52:63]) * _TWOPI / 1440.0,
    }


def _sgp4_propagate_np(el: dict, tsince):
    """Vectorized near-Earth SGP4: `el` holds element ARRAYS (one entry
    per output row, already aligned with `tsince` minutes). Returns TEME
    position (km) and velocity (km/s) arrays of shape (n, 3).

    Straight transcription of the published equations (Spacetrack Report
    #3 + Vallado 2006 corrections). Every step is a numpy array op, so
    the per-row cost is a handful of flops — no per-satellite init cache
    is needed even though elements repeat across rows.
    """

    no_kozai = np.asarray(el["no_kozai"], dtype=np.float64)
    ecco = np.asarray(el["ecco"], dtype=np.float64)
    inclo = np.asarray(el["inclo"], dtype=np.float64)
    nodeo = np.asarray(el["nodeo"], dtype=np.float64)
    argpo = np.asarray(el["argpo"], dtype=np.float64)
    mo = np.asarray(el["mo"], dtype=np.float64)
    bstar = np.asarray(el["bstar"], dtype=np.float64)
    t = np.asarray(tsince, dtype=np.float64)

    x2o3 = 2.0 / 3.0
    eccsq = ecco * ecco
    omeosq = 1.0 - eccsq
    rteosq = np.sqrt(omeosq)
    cosio = np.cos(inclo)
    sinio = np.sin(inclo)
    cosio2 = cosio * cosio

    # un-Kozai the mean motion
    ak = (_XKE / no_kozai) ** x2o3
    d1 = 0.75 * _J2 * (3.0 * cosio2 - 1.0) / (rteosq * omeosq)
    del_ = d1 / (ak * ak)
    adel = ak * (1.0 - del_ * del_ - del_ * (1.0 / 3.0 + 134.0 * del_ * del_ / 81.0))
    del_ = d1 / (adel * adel)
    no_unkozai = no_kozai / (1.0 + del_)

    ao = (_XKE / no_unkozai) ** x2o3
    po = ao * omeosq
    con42 = 1.0 - 5.0 * cosio2
    con41 = -con42 - 2.0 * cosio2
    posq = po * po
    rp = ao * (1.0 - ecco)

    # perigee-dependent s / q constants
    perige = (rp - 1.0) * _RE_KM
    sfour_km = np.where(perige < 156.0, np.where(perige < 98.0, 20.0, perige - 78.0), 78.0)
    qzms24 = ((120.0 - sfour_km) / _RE_KM) ** 4
    sfour = sfour_km / _RE_KM + 1.0

    pinvsq = 1.0 / posq
    tsi = 1.0 / (ao - sfour)
    eta = ao * ecco * tsi
    etasq = eta * eta
    eeta = ecco * eta
    psisq = np.abs(1.0 - etasq)
    coef = qzms24 * tsi**4
    coef1 = coef / psisq**3.5
    cc2 = coef1 * no_unkozai * (
        ao * (1.0 + 1.5 * etasq + eeta * (4.0 + etasq))
        + 0.375 * _J2 * tsi / psisq * con41 * (8.0 + 3.0 * etasq * (8.0 + etasq))
    )
    cc1 = bstar * cc2
    safe_e = np.maximum(ecco, 1.0e-8)
    cc3 = np.where(
        ecco > 1.0e-4,
        -2.0 * coef * tsi * _J3OJ2 * no_unkozai * sinio / safe_e,
        0.0,
    )
    x1mth2 = 1.0 - cosio2
    cc4 = 2.0 * no_unkozai * coef1 * ao * omeosq * (
        eta * (2.0 + 0.5 * etasq)
        + ecco * (0.5 + 2.0 * etasq)
        - _J2 * tsi / (ao * psisq)
        * (
            -3.0 * con41 * (1.0 - 2.0 * eeta + etasq * (1.5 - 0.5 * eeta))
            + 0.75 * x1mth2 * (2.0 * etasq - eeta * (1.0 + etasq)) * np.cos(2.0 * argpo)
        )
    )
    cc5 = 2.0 * coef1 * ao * omeosq * (1.0 + 2.75 * (etasq + eeta) + eeta * etasq)
    cosio4 = cosio2 * cosio2
    temp1 = 1.5 * _J2 * pinvsq * no_unkozai
    temp2 = 0.5 * temp1 * _J2 * pinvsq
    temp3 = -0.46875 * _J4 * pinvsq * pinvsq * no_unkozai
    mdot = (
        no_unkozai
        + 0.5 * temp1 * rteosq * con41
        + 0.0625 * temp2 * rteosq * (13.0 - 78.0 * cosio2 + 137.0 * cosio4)
    )
    argpdot = (
        -0.5 * temp1 * con42
        + 0.0625 * temp2 * (7.0 - 114.0 * cosio2 + 395.0 * cosio4)
        + temp3 * (3.0 - 36.0 * cosio2 + 49.0 * cosio4)
    )
    xhdot1 = -temp1 * cosio
    nodedot = xhdot1 + (
        0.5 * temp2 * (4.0 - 19.0 * cosio2) + 2.0 * temp3 * (3.0 - 7.0 * cosio2)
    ) * cosio
    omgcof = bstar * cc3 * np.cos(argpo)
    xmcof = np.where(ecco > 1.0e-4, -x2o3 * coef * bstar / np.maximum(eeta, 1.0e-12), 0.0)
    nodecf = 3.5 * omeosq * xhdot1 * cc1
    t2cof = 1.5 * cc1
    # avoid div-by-zero for the (unphysical for LEO) cosio = -1 case
    xlcof = -0.25 * _J3OJ2 * sinio * (3.0 + 5.0 * cosio) / np.maximum(1.0 + cosio, 1.5e-12)
    aycof = -0.5 * _J3OJ2 * sinio
    delmo = (1.0 + eta * np.cos(mo)) ** 3
    sinmao = np.sin(mo)
    x7thm1 = 7.0 * cosio2 - 1.0

    isimp = rp < (220.0 / _RE_KM + 1.0)
    cc1sq = cc1 * cc1
    d2 = 4.0 * ao * tsi * cc1sq
    temp_d = d2 * tsi * cc1 / 3.0
    d3 = (17.0 * ao + sfour) * temp_d
    d4 = 0.5 * temp_d * ao * tsi * (221.0 * ao + 31.0 * sfour) * cc1
    t3cof = d2 + 2.0 * cc1sq
    t4cof = 0.25 * (3.0 * d3 + cc1 * (12.0 * d2 + 10.0 * cc1sq))
    t5cof = 0.2 * (3.0 * d4 + 12.0 * cc1 * d3 + 6.0 * d2 * d2 + 15.0 * cc1sq * (2.0 * d2 + cc1sq))

    # --- secular update to epoch + t ---
    xmdf = mo + mdot * t
    argpdf = argpo + argpdot * t
    nodedf = nodeo + nodedot * t
    t2 = t * t
    nodem = nodedf + nodecf * t2

    delomg = omgcof * t
    delmtemp = 1.0 + eta * np.cos(xmdf)
    delm = xmcof * (delmtemp**3 - delmo)
    temp_f = delomg + delm
    mm_full = xmdf + temp_f
    argpm_full = argpdf - temp_f
    t3 = t2 * t
    t4 = t3 * t
    tempa_full = 1.0 - cc1 * t - d2 * t2 - d3 * t3 - d4 * t4
    tempe_full = bstar * cc4 * t + bstar * cc5 * (np.sin(mm_full) - sinmao)
    templ_full = t2cof * t2 + t3cof * t3 + t4 * (t4cof + t * t5cof)

    mm = np.where(isimp, xmdf, mm_full)
    argpm = np.where(isimp, argpdf, argpm_full)
    tempa = np.where(isimp, 1.0 - cc1 * t, tempa_full)
    tempe = np.where(isimp, bstar * cc4 * t, tempe_full)
    templ = np.where(isimp, t2cof * t2, templ_full)

    am = ao * tempa * tempa
    nm = _XKE / am**1.5
    em = np.clip(ecco - tempe, 1.0e-6, 0.999999)
    mm = mm + no_unkozai * templ
    xlm = mm + argpm + nodem
    nodem = np.mod(nodem, _TWOPI)
    argpm = np.mod(argpm, _TWOPI)
    xlm = np.mod(xlm, _TWOPI)
    mm = np.mod(xlm - argpm - nodem, _TWOPI)

    sinim = np.sin(inclo)
    cosim = np.cos(inclo)

    # --- long-period periodics ---
    axnl = em * np.cos(argpm)
    temp_lp = 1.0 / (am * (1.0 - em * em))
    aynl = em * np.sin(argpm) + temp_lp * aycof
    xl = mm + argpm + nodem + temp_lp * xlcof * axnl

    # --- Kepler (vectorized fixed-point Newton, 10 iters w/ clamp) ---
    u = np.mod(xl - nodem, _TWOPI)
    eo1 = u.copy()
    for _ in range(10):
        sineo1 = np.sin(eo1)
        coseo1 = np.cos(eo1)
        tem5 = 1.0 - coseo1 * axnl - sineo1 * aynl
        tem5 = (u - aynl * coseo1 + axnl * sineo1 - eo1) / tem5
        tem5 = np.clip(tem5, -0.95, 0.95)
        eo1 = eo1 + tem5
    sineo1 = np.sin(eo1)
    coseo1 = np.cos(eo1)

    # --- short-period periodics ---
    ecose = axnl * coseo1 + aynl * sineo1
    esine = axnl * sineo1 - aynl * coseo1
    el2 = axnl * axnl + aynl * aynl
    pl = am * (1.0 - el2)
    rl = am * (1.0 - ecose)
    rdotl = np.sqrt(am) * esine / rl
    rvdotl = np.sqrt(pl) / rl
    betal = np.sqrt(1.0 - el2)
    temp_sp = esine / (1.0 + betal)
    sinu = am / rl * (sineo1 - aynl - axnl * temp_sp)
    cosu = am / rl * (coseo1 - axnl + aynl * temp_sp)
    su = np.arctan2(sinu, cosu)
    sin2u = (cosu + cosu) * sinu
    cos2u = 1.0 - 2.0 * sinu * sinu
    temp_j = 1.0 / pl
    temp1_j = 0.5 * _J2 * temp_j
    temp2_j = temp1_j * temp_j
    mrt = rl * (1.0 - 1.5 * temp2_j * betal * con41) + 0.5 * temp1_j * x1mth2 * cos2u
    su = su - 0.25 * temp2_j * x7thm1 * sin2u
    xnode = nodem + 1.5 * temp2_j * cosim * sin2u
    xinc = inclo + 1.5 * temp2_j * cosim * sinim * cos2u
    mvt = rdotl - nm * temp1_j * x1mth2 * sin2u / _XKE
    rvdot = rvdotl + nm * temp1_j * (x1mth2 * cos2u + 1.5 * con41) / _XKE

    # --- orientation vectors / TEME frame ---
    sinsu = np.sin(su)
    cossu = np.cos(su)
    snod = np.sin(xnode)
    cnod = np.cos(xnode)
    sini = np.sin(xinc)
    cosi = np.cos(xinc)
    xmx = -snod * cosi
    xmy = cnod * cosi
    ux = xmx * sinsu + cnod * cossu
    uy = xmy * sinsu + snod * cossu
    uz = sini * sinsu
    vx_ = xmx * cossu - cnod * sinsu
    vy_ = xmy * cossu - snod * sinsu
    vz_ = sini * cossu

    vkmpersec = _RE_KM * _XKE / 60.0
    r = np.stack([mrt * ux, mrt * uy, mrt * uz], axis=1) * _RE_KM
    v = np.stack(
        [mvt * ux + rvdot * vx_, mvt * uy + rvdot * vy_, mvt * uz + rvdot * vz_], axis=1
    ) * vkmpersec
    return r, v


def gstime_rad(jd_ut1):
    """Greenwich mean sidereal time (rad) from a UT1 Julian date —
    public IAU-82 polynomial (Vallado, 'Fundamentals of Astrodynamics',
    gstime). numpy-vectorized."""

    tut1 = (np.asarray(jd_ut1, dtype=np.float64) - 2451545.0) / 36525.0
    temp = (
        -6.2e-6 * tut1**3
        + 0.093104 * tut1**2
        + (876600.0 * 3600.0 + 8640184.812866) * tut1
        + 67310.54841
    )
    return np.mod(np.deg2rad(np.mod(temp, 86400.0) / 240.0), _TWOPI)


def sgp4_teme_udf():
    """pandas UDF: TLE element columns + tsince_min → TEME state struct.
    One Arrow batch propagates ~10^5 rows entirely in numpy; elements
    repeat per satellite but init is vectorized flops, not per-row
    Python, so no per-satellite caching is needed."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "struct<x_km:double,y_km:double,z_km:double,"
        "vx_kms:double,vy_kms:double,vz_kms:double>"
    )
    def _sgp4(
        no_kozai: pd.Series,
        ecco: pd.Series,
        inclo: pd.Series,
        nodeo: pd.Series,
        argpo: pd.Series,
        mo: pd.Series,
        bstar: pd.Series,
        tsince_min: pd.Series,
    ) -> pd.DataFrame:
        el = {
            "no_kozai": no_kozai.to_numpy(),
            "ecco": ecco.to_numpy(),
            "inclo": inclo.to_numpy(),
            "nodeo": nodeo.to_numpy(),
            "argpo": argpo.to_numpy(),
            "mo": mo.to_numpy(),
            "bstar": bstar.to_numpy(),
        }
        r, v = _sgp4_propagate_np(el, tsince_min.to_numpy())
        return pd.DataFrame(
            {
                "x_km": r[:, 0],
                "y_km": r[:, 1],
                "z_km": r[:, 2],
                "vx_kms": v[:, 0],
                "vy_kms": v[:, 1],
                "vz_kms": v[:, 2],
            }
        )

    return _sgp4


def sgp4_ground_track_udf():
    """pandas UDF: TLE elements + jd_epoch + tsince_min → (lon_deg,
    lat_deg, alt_km) geodetic ground-track struct. TEME → ECEF via GMST
    rotation; geodetic latitude by 3 fixed iterations (WGS-72
    flattening 1/298.26). Output rows feed nearest_join (J8) /
    interval_join (J3) overpass queries directly."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<lon_deg:double,lat_deg:double,alt_km:double>")
    def _track(
        no_kozai: pd.Series,
        ecco: pd.Series,
        inclo: pd.Series,
        nodeo: pd.Series,
        argpo: pd.Series,
        mo: pd.Series,
        bstar: pd.Series,
        jd_epoch: pd.Series,
        tsince_min: pd.Series,
    ) -> pd.DataFrame:
        el = {
            "no_kozai": no_kozai.to_numpy(),
            "ecco": ecco.to_numpy(),
            "inclo": inclo.to_numpy(),
            "nodeo": nodeo.to_numpy(),
            "argpo": argpo.to_numpy(),
            "mo": mo.to_numpy(),
            "bstar": bstar.to_numpy(),
        }
        t = tsince_min.to_numpy()
        r, _ = _sgp4_propagate_np(el, t)
        gmst = gstime_rad(jd_epoch.to_numpy() + t / 1440.0)
        lon = np.mod(np.arctan2(r[:, 1], r[:, 0]) - gmst + np.pi, _TWOPI) - np.pi
        # geodetic latitude (Bowring-style fixed iteration)
        f = 1.0 / 298.26  # WGS-72
        e2 = f * (2.0 - f)
        rxy = np.hypot(r[:, 0], r[:, 1])
        lat = np.arctan2(r[:, 2], rxy)
        for _ in range(3):
            sinlat = np.sin(lat)
            c = 1.0 / np.sqrt(1.0 - e2 * sinlat * sinlat)
            lat = np.arctan2(r[:, 2] + _RE_KM * c * e2 * sinlat, rxy)
        sinlat = np.sin(lat)
        c = 1.0 / np.sqrt(1.0 - e2 * sinlat * sinlat)
        alt = rxy / np.cos(lat) - _RE_KM * c
        return pd.DataFrame(
            {"lon_deg": np.rad2deg(lon), "lat_deg": np.rad2deg(lat), "alt_km": alt}
        )

    return _track


# The canonical public SGP4 verification case (Spacetrack Report #3,
# satellite 88888): TLE + the report's position table are the fixed
# external test vectors for q73 and tests/test_orbital_sgp4.py.
SPACETRACK_R3_TLE = (
    "1 88888U          80275.98708465  .00073094  13844-3  66816-4 0     8",
    "2 88888  72.8435 115.9689 0086731  52.6988 110.5714 16.05824518  105",
)
