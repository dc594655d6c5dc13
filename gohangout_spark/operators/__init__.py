from gohangout_spark.operators.base import (
    Chain,
    Filter,
    FilterBox,
    FilterEffect,
    RowSubsetFilter,
)
from gohangout_spark.operators.basic import (
    Add,
    Drop,
    Lowercase,
    Remove,
    Rename,
    Replace,
    Gsub,
    Uppercase,
    URLDecode,
)
from gohangout_spark.operators.asof_lookup import AsofLookup
from gohangout_spark.operators.convert import Convert
from gohangout_spark.operators.dedup_filter import Dedup
from gohangout_spark.operators.date import Date
from gohangout_spark.operators.grok import Grok
from gohangout_spark.operators.json_filter import Json
from gohangout_spark.operators.kv import KV
from gohangout_spark.operators.split import Split
from gohangout_spark.operators.translate import Translate
from gohangout_spark.operators.filters import Filters
from gohangout_spark.operators.ipip import IPIP
from gohangout_spark.operators.metrics import LinkMetric, LinkStatsMetric
from gohangout_spark.operators.textops import (
    Canonicalize,
    Decontaminate,
    Fingerprint,
    BoilerplateLines,
    Classify,
    GopherRules,
    LanguageId,
    QuantileBucket,
    RedactPii,
    SimHash,
    TextQuality,
    TokenCount,
)

FILTER_REGISTRY = {
    "Add": Add,
    "AsofLookup": AsofLookup,
    "Remove": Remove,
    "Rename": Rename,
    "Drop": Drop,
    "Lowercase": Lowercase,
    "Uppercase": Uppercase,
    "Gsub": Gsub,
    "Replace": Replace,
    "URLDecode": URLDecode,
    "Convert": Convert,
    "Date": Date,
    "Dedup": Dedup,
    "Grok": Grok,
    "Json": Json,
    "KV": KV,
    "Split": Split,
    "Translate": Translate,
    "Filters": Filters,
    "IPIP": IPIP,
    "LinkMetric": LinkMetric,
    "LinkStatsMetric": LinkStatsMetric,
    "LanguageId": LanguageId,
    "TextQuality": TextQuality,
    "TokenCount": TokenCount,
    "Fingerprint": Fingerprint,
    "SimHash": SimHash,
    "RedactPii": RedactPii,
    "Canonicalize": Canonicalize,
    "Decontaminate": Decontaminate,
    "BoilerplateLines": BoilerplateLines,
    "Classify": Classify,
    "GopherRules": GopherRules,
    "QuantileBucket": QuantileBucket,
}

__all__ = [
    "Chain", "Filter", "FilterBox", "FilterEffect", "RowSubsetFilter", "FILTER_REGISTRY"
] + list(FILTER_REGISTRY)


def register_filter(name: str, cls) -> None:
    """Third-party filter registration — the Python analogue of the
    reference's .so plugin loading (filter/filter.go:40-61): any class
    implementing one of the Filter shapes (build(), a RowSubsetFilter's
    transform(), or a plan_level apply_plan()) becomes
    addressable from YAML configs by name."""
    FILTER_REGISTRY[name] = cls
