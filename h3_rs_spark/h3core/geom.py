"""Vectorized spherical geometry (H3 v3.6 semantics, from scratch in numpy).

Gnomonic face projection, azimuth/distance primitives, and the
face-plane <-> sphere transforms used by encode/decode/boundary.
Angles are radians throughout; callers convert degrees at the API edge.
"""

from __future__ import annotations

import numpy as np

from .constants import (
    EARTH_RADIUS_M,
    EPSILON,
    FACE_AXES_AZ_RADS_CII,
    FACE_CENTER_GEO,
    M_AP7_ROT_RADS,
    M_SQRT7,
    RES0_U_GNOMONIC,
)

_FACE_XYZ = None


def face_center_xyz() -> np.ndarray:
    """(20, 3) unit vectors of icosahedron face centers."""
    global _FACE_XYZ
    if _FACE_XYZ is None:
        lat = FACE_CENTER_GEO[:, 0]
        lng = FACE_CENTER_GEO[:, 1]
        _FACE_XYZ = np.stack(
            [np.cos(lat) * np.cos(lng), np.cos(lat) * np.sin(lng), np.sin(lat)],
            axis=-1,
        )
    return _FACE_XYZ


def geo_to_xyz(lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    return np.stack(
        [np.cos(lat) * np.cos(lng), np.cos(lat) * np.sin(lng), np.sin(lat)], axis=-1
    )


def pos_angle(a: np.ndarray) -> np.ndarray:
    """Normalize angle into [0, 2*pi)."""
    two_pi = 2.0 * np.pi
    out = np.mod(a, two_pi)
    return np.where(out < 0.0, out + two_pi, out)


def constrain_lng(lng: np.ndarray) -> np.ndarray:
    out = np.mod(lng + np.pi, 2.0 * np.pi) - np.pi
    return out


def geo_azimuth(lat1, lng1, lat2, lng2) -> np.ndarray:
    """Bearing (clockwise from north) from point 1 to point 2. Not on
    the encode hot path (geo_to_hex2d fuses its own azimuth from xyz)
    but used by tools/generate_tables.py for table derivation."""
    return np.arctan2(
        np.cos(lat2) * np.sin(lng2 - lng1),
        np.cos(lat1) * np.sin(lat2)
        - np.sin(lat1) * np.cos(lat2) * np.cos(lng2 - lng1),
    )


def geo_az_distance(lat1, lng1, az, r):
    """Point at bearing `az` and angular distance `r` from (lat1, lng1).

    Follows H3's _geoAzDistanceRads branch structure so decoded
    centroids/boundaries match the reference goldens at 1e-9.
    """
    lat1 = np.asarray(lat1, dtype=np.float64)
    lng1 = np.asarray(lng1, dtype=np.float64)
    az = pos_angle(np.asarray(az, dtype=np.float64))
    r = np.asarray(r, dtype=np.float64)

    due_north = az < EPSILON
    due_south = np.abs(az - np.pi) < EPSILON
    axial = due_north | due_south

    # axial path
    lat_ax = np.where(due_north, lat1 + r, lat1 - r)
    at_npole = np.abs(lat_ax - np.pi / 2) < EPSILON
    at_spole = np.abs(lat_ax + np.pi / 2) < EPSILON
    lat_ax = np.where(at_npole, np.pi / 2, np.where(at_spole, -np.pi / 2, lat_ax))
    lng_ax = np.where(at_npole | at_spole, 0.0, constrain_lng(lng1))

    # general path
    sinlat = np.clip(
        np.sin(lat1) * np.cos(r) + np.cos(lat1) * np.sin(r) * np.cos(az), -1.0, 1.0
    )
    lat2 = np.arcsin(sinlat)
    at_npole2 = np.abs(lat2 - np.pi / 2) < EPSILON
    at_spole2 = np.abs(lat2 + np.pi / 2) < EPSILON
    coslat2 = np.cos(lat2)
    safe = np.where(at_npole2 | at_spole2, 1.0, coslat2)
    sinlng = np.clip(np.sin(az) * np.sin(r) / safe, -1.0, 1.0)
    coslng = np.clip(
        (np.cos(r) - np.sin(lat1) * sinlat) / np.where(np.cos(lat1) == 0, 1.0, np.cos(lat1)) / safe,
        -1.0,
        1.0,
    )
    lng2 = constrain_lng(lng1 + np.arctan2(sinlng, coslng))
    lat2 = np.where(at_npole2, np.pi / 2, np.where(at_spole2, -np.pi / 2, lat2))
    lng2 = np.where(at_npole2 | at_spole2, 0.0, lng2)

    lat = np.where(axial, lat_ax, lat2)
    lng = np.where(axial, lng_ax, lng2)
    tiny = r < EPSILON
    lat = np.where(tiny, lat1, lat)
    lng = np.where(tiny, lng1, lng)
    return lat, lng


def nearest_face(lat: np.ndarray, lng: np.ndarray):
    """Nearest icosahedron face and squared chordal distance to its center."""
    xyz = geo_to_xyz(lat, lng)  # (..., 3)
    # squared euclidean distance = 2 - 2*dot
    dots = xyz @ face_center_xyz().T  # (..., 20)
    face = np.argmax(dots, axis=-1)
    best = np.take_along_axis(dots, face[..., None], axis=-1)[..., 0]
    sqd = 2.0 - 2.0 * np.clip(best, -1.0, 1.0)
    return face.astype(np.int64), sqd


_FACE_TRIG = None


def _face_trig():
    """Per-face constants for the fused encode: (cos lng, sin lng,
    cos lat, sin lat) of the face center and (cos, sin) of the i-axis
    azimuth for Class II and Class III grids."""
    global _FACE_TRIG
    if _FACE_TRIG is None:
        flat = FACE_CENTER_GEO[:, 0]
        flng = FACE_CENTER_GEO[:, 1]
        ax2 = FACE_AXES_AZ_RADS_CII[:, 0]
        ax3 = ax2 - M_AP7_ROT_RADS
        _FACE_TRIG = (
            np.cos(flng),
            np.sin(flng),
            np.cos(flat),
            np.sin(flat),
            (np.cos(ax2), np.sin(ax2)),
            (np.cos(ax3), np.sin(ax3)),
        )
    return _FACE_TRIG


def geo_to_hex2d(lat: np.ndarray, lng: np.ndarray, res: int):
    """Geo point -> (face, hex2d vector) at resolution `res`.

    Fused form of the H3 _geoToHex2d chain: the azimuth sin/cos come
    straight from the point's xyz plus per-face constants (no second
    round of point trig), tan(arccos(u)) collapses to sqrt(1-u^2)/u,
    and theta = faceAxis - azimuth expands through angle-difference
    identities — no arctan2/cos/sin in the hot path at all.
    """
    xyz = geo_to_xyz(lat, lng)
    dots = xyz @ face_center_xyz().T  # (..., 20)
    face = np.argmax(dots, axis=-1).astype(np.int64)
    u = np.clip(np.take_along_axis(dots, face[..., None], axis=-1)[..., 0], -1.0, 1.0)

    c1, s1, cphi, sphi, ax2, ax3 = _face_trig()
    x2, y2, z2 = xyz[..., 0], xyz[..., 1], xyz[..., 2]
    c1f, s1f = c1[face], s1[face]
    # azimuth (face center -> point), as sin/cos up to a common positive
    # scale: numer = cos(lat2) sin(lng2-lng1), denom = cos(lat1) sin(lat2)
    # - sin(lat1) cos(lat2) cos(lng2-lng1) — all linear in the point xyz
    az_sin = y2 * c1f - x2 * s1f
    az_cos = cphi[face] * z2 - sphi[face] * (x2 * c1f + y2 * s1f)
    h = np.sqrt(az_sin * az_sin + az_cos * az_cos)
    h = np.where(h == 0.0, 1.0, h)
    az_sin = az_sin / h
    az_cos = az_cos / h

    # theta = faceAxis - az: angle-difference expansion
    axc, axs = (ax3 if res % 2 == 1 else ax2)
    cos_t = axc[face] * az_cos + axs[face] * az_sin
    sin_t = axs[face] * az_cos - axc[face] * az_sin

    # rt = tan(arccos(u)) / u0 * sqrt7^res, with tan(acos(u)) = sqrt(1-u^2)/u
    safe_u = np.where(u == 0.0, 1.0, u)
    rt = np.sqrt(np.maximum(0.0, 1.0 - u * u)) / safe_u
    rt = rt / RES0_U_GNOMONIC
    rt = rt * M_SQRT7 ** res

    v = np.stack([rt * cos_t, rt * sin_t], axis=-1)
    # at the exact face center the azimuth is degenerate -> origin
    # (r < EPSILON  <=>  1 - u^2 < sin(EPSILON)^2 ~= EPSILON^2)
    v = np.where((1.0 - u * u < EPSILON * EPSILON)[..., None], 0.0, v)
    return face, v


def hex2d_to_geo(v: np.ndarray, face: np.ndarray, res: int, substrate: bool):
    """(face, hex2d) -> geo point. Inverse of geo_to_hex2d."""
    x = v[..., 0]
    y = v[..., 1]
    r = np.sqrt(x * x + y * y)
    theta = np.arctan2(y, x)

    r = r / M_SQRT7 ** res
    if substrate:
        r = r / 3.0
        if res % 2 == 1:
            r = r / M_SQRT7
    r = r * RES0_U_GNOMONIC
    r = np.arctan(r)

    if not substrate and res % 2 == 1:
        theta = pos_angle(theta + M_AP7_ROT_RADS)
    az = pos_angle(FACE_AXES_AZ_RADS_CII[face, 0] - theta)

    flat = FACE_CENTER_GEO[face, 0]
    flng = FACE_CENTER_GEO[face, 1]
    return geo_az_distance(flat, flng, az, r)


def haversine_m(lat1, lng1, lat2, lng2):
    """Great-circle distance in meters between radian points
    (vectorized)."""
    dlat = lat2 - lat1
    dlng = lng2 - lng1
    a = (
        np.sin(dlat / 2.0) ** 2
        + np.cos(lat1) * np.cos(lat2) * np.sin(dlng / 2.0) ** 2
    )
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))
