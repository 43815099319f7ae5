"""Physical metadata value types + OME pixel-type <-> numpy mapping.

Mirrors the reference's metadata value objects (bio_image.py:1051-1108) and
the 10-entry bidirectional OME PixelType <-> numpy dtype map
(ome_utils.py:66-137). Complex types map to struct<re,im> in Spark.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple, Optional


class PhysicalPixelSizes(NamedTuple):
    """Z/Y/X physical pixel sizes (ref bio_image.py:1051-1064)."""

    Z: Optional[float]
    Y: Optional[float]
    X: Optional[float]


class TimeInterval(float):
    """T-axis interval in seconds (ref bio_image.py:1066-1077)."""


@dataclass(frozen=True)
class DimensionProperties:
    """Per-dimension (value, type, unit) triple (ref bio_image.py:1081-1108)."""

    value: Optional[float]
    type: str
    unit: Optional[str]


@dataclass(frozen=True)
class Scale:
    """Combined per-dim scale; C is always None (ref bio_image.py:1079)."""

    T: Optional[float]
    C: None
    Z: Optional[float]
    Y: Optional[float]
    X: Optional[float]


@dataclass(frozen=True)
class StandardMetadata:
    """Flat standardized metadata tier (D2 tier 3; the reference's
    bioio_base StandardMetadata dataclass — ref bio_image.py:1110-1133
    overlays image sizes from actual dims via dataclasses.replace; our
    builder does the same from the catalog + dims). Supports both
    attribute and mapping-style access so relational consumers can treat
    it as a row."""

    image_id: Optional[str] = None
    scene: Optional[str] = None
    dtype: Optional[str] = None
    ome_pixel_type: Optional[str] = None
    image_size_t: Optional[int] = None
    image_size_c: Optional[int] = None
    image_size_z: Optional[int] = None
    image_size_y: Optional[int] = None
    image_size_x: Optional[int] = None
    pixel_size_z: Optional[float] = None
    pixel_size_y: Optional[float] = None
    pixel_size_x: Optional[float] = None
    time_interval: Optional[float] = None

    def __getitem__(self, key: str):
        return getattr(self, key)

    def get(self, key: str, default=None):
        return getattr(self, key, default)

    def to_dict(self) -> dict:
        from dataclasses import asdict

        return asdict(self)


# type aliases mirroring the reference's top-level exports
# (ref __init__.py:10-19; bioio_base.types)
try:
    import numpy as _np

    ArrayLike = _np.ndarray
except ImportError:  # pragma: no cover
    ArrayLike = object
MetaArrayLike = ArrayLike     # dask/xarray tiers share the ndarray shape
PathLike = str
ImageLike = object            # PathLike | ArrayLike | list of either


# OME PixelType string <-> numpy dtype name (ref ome_utils.py:85-96).
OME_TO_NUMPY_DTYPE = {
    "int8": "int8",
    "int16": "int16",
    "int32": "int32",
    "uint8": "uint8",
    "uint16": "uint16",
    "uint32": "uint32",
    "float": "float32",
    "double": "float64",
    "complex": "complex64",
    "double-complex": "complex128",
}
NUMPY_DTYPE_TO_OME = {v: k for k, v in OME_TO_NUMPY_DTYPE.items()}


def dtype_to_ome_type(dtype) -> str:
    """numpy dtype -> OME PixelType; ValueError on unknown
    (ref ome_utils.py:101-118)."""
    name = getattr(dtype, "name", str(dtype))
    if name not in NUMPY_DTYPE_TO_OME:
        raise ValueError(f"Unsupported dtype: {name}")
    return NUMPY_DTYPE_TO_OME[name]


def ome_to_numpy_dtype(ome_type: str):
    """OME PixelType -> numpy dtype; ValueError on unknown
    (ref ome_utils.py:121-137)."""
    import numpy as np

    if ome_type not in OME_TO_NUMPY_DTYPE:
        raise ValueError(f"Unsupported OME PixelType: {ome_type}")
    return np.dtype(OME_TO_NUMPY_DTYPE[ome_type])
