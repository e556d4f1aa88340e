"""petropandas_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ondrolexa/petropandas (reference read-only at
``/root/reference``), built Spark-first from public knowledge.

Architecture (SURVEY.md §7): the scalar layer is *dual-dialect SQL
generation* (``sqlgen.Plan``) — every operator is a chain of projection
stages whose expressions are valid in both Spark SQL and DuckDB.  One
renderer nests the stages as sub-selects; Spark runs that SQL through
``spark.sql`` (ordinary Catalyst expressions: whole-stage-codegen'd,
constant-folded, collapsed, pushed down) and the DuckDB oracle of the
correctness gate runs the same text in its dialect, so both engines
evaluate the identical IEEE-754 expression tree.

Layers:
  core         driver-side chemistry (column-name → constants)
  sqlgen       dual-dialect expression/stage/plan builders
  functions/   U*/V*/Q* scalar operators (SURVEY.md §2.3-2.5)
  minerals     Mineral configs, site allocation M3, end-members E1-E16
  frame        PetroFrame: Spark DataFrame + units metadata wrapper
  pipeline/    scale extensions: dedup, similarity, text analysis, streaming
"""

__version__ = "0.3.0"

# -- reference-parity top-level surface (ref ``__init__.py:1-70``) -----------
#
# A petropandas user writes ``from petropandas import Grt, ppconfig,
# ScatterPlot, PetroDB``; the same names resolve here.  Resolution is lazy
# (PEP 562) so ``import petropandas_spark`` stays cheap — no submodule (or
# pyspark machinery) loads until a name is touched.

_MINERAL_EXPORTS = {
    # reference short name -> (module, config attr)
    "Amp": ("minerals_ext", "AMPHIBOLE"),
    "Bt": ("minerals_ext", "BIOTITE"),
    "Chl": ("minerals_ext", "CHLORITE"),
    "Cld": ("minerals_ext", "CHLORITOID"),
    "Cpx": ("minerals", "CLINOPYROXENE"),
    "Crd": ("minerals_ext", "CORDIERITE"),
    "Ep": ("minerals_ext", "EPIDOTE"),
    "Fsp": ("minerals", "FELDSPAR"),
    "Grt": ("minerals", "GARNET"),
    "GrtFe3": ("minerals_ext", "GARNETFE3"),
    "Ilm": ("minerals_ext", "ILMENITE"),
    "Ms": ("minerals_ext", "MUSCOVITE"),
    "Opx": ("minerals_ext", "ORTHOPYROXENE"),
    "Spl": ("minerals_ext", "SPINEL"),
    "St": ("minerals_ext", "STAUROLITE"),
    "Ttn": ("minerals_ext", "TITANITE"),
}

_LAZY_EXPORTS = {
    # name -> (submodule, attr)
    "ALIASES": ("core", "ALIASES"),
    "MW": ("core", "MW"),
    "Mineral": ("minerals", "MineralConfig"),
    "PetroFrame": ("frame", "PetroFrame"),
    "ProfilePlot": ("plotting", "ProfilePlot"),
    "ScatterPlot": ("plotting", "ScatterPlot"),
    "TernaryPlot": ("plotting", "TernaryPlot"),
    "PetroDB": ("sources.petrodb", "PetroAPI"),
    "PetroDBDataSource": ("sources.petrodb", "PetroDBDataSource"),
    "col_to_mole": ("io", "col_to_mole"),
    "col_to_cation": ("io", "col_to_cation"),
    "datasets": ("datasets", None),
}


class PPConfig:
    """Attribute-style view over :mod:`petropandas_spark.config` (ref
    ``_config.py:6-32``) — ``ppconfig.default_db = "ig"`` routes through
    ``config.set`` so call-time consumers observe the change."""

    def __getattr__(self, name):
        from petropandas_spark import config as _c

        try:
            return _c.get(name)
        except KeyError:
            raise AttributeError(name) from None

    def __setattr__(self, name, value):
        from petropandas_spark import config as _c

        _c.set(name, value)

    def reset(self):
        from petropandas_spark import config as _c

        _c.reset()


ppconfig = PPConfig()

__all__ = sorted(
    ["PPConfig", "ppconfig", "__version__"]
    + list(_MINERAL_EXPORTS)
    + list(_LAZY_EXPORTS)
)


def __getattr__(name):
    import importlib

    if name in _MINERAL_EXPORTS:
        mod, attr = _MINERAL_EXPORTS[name]
        value = getattr(
            importlib.import_module(f"petropandas_spark.{mod}"), attr
        )
    elif name in _LAZY_EXPORTS:
        mod, attr = _LAZY_EXPORTS[name]
        module = importlib.import_module(f"petropandas_spark.{mod}")
        value = module if attr is None else getattr(module, attr)
    else:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        )
    globals()[name] = value  # cache for next access
    return value


def __dir__():
    return sorted(set(globals()) | set(__all__))
