"""Dataset manifests: dataset.yaml -> profiles -> facet DataFrames.

Reference semantics (SURVEY §1.1, §3.1):
- ``dataset.yaml``: ``attributes``, ``variables``, ``profiles`` — each profile
  maps facet kinds (base/query/indices/distances + predicate facets) to source
  files with optional windows (docs/specs/dataset_yaml_v1.md:25-83).
- Profile inheritance: non-default profiles inherit the default profile's
  facets in a two-pass build (layoutv2/DSProfileGroup.java:60-93).
- Window sugar on sources: ``base.fvec[0..1000]`` / ``(1000)`` count form
  (dataset_yaml_v1.md:65-79; layout/FWindow.java:82-140).
- Sized expansion: ``sized: [10m, 100m..400m/100m, fib:1m..400m, mul:...]``
  generates per-size profiles (layoutv2/DSSizedExpander.java:31-65).
- Name normalization: "a:b:c" -> "c"; dataset name -> "default"
  (TestDataGroup.java:242-260).

Spark shape: the manifest is parsed driver-side (pure Python + yaml); facets
resolve lazily to DataFrames — xvec via sources.xvec, parquet/csv native —
with windows applied as ordinal-range filters (predicate pushdown does the
rest).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from nbdatatools_spark.functions.units import parse_unit_count
from nbdatatools_spark.operators.windows import window_slice

try:
    import yaml  # noqa
    _HAVE_YAML = True
except ImportError:
    _HAVE_YAML = False
    import json

FACET_ALIASES = {
    # dataset.yaml shorthand -> canonical kind, the FULL OtherNames alias
    # table (spec/datasets/types/TestDataKind.java:34-94 canonical names,
    # :201-223 alternatives; FacetResolutionTest.java). Resolution is
    # case-insensitive (fromOptionalString equalsIgnoreCase) — callers
    # lower() before lookup.
    "base": "base_vectors",
    "train": "base_vectors",
    "query": "query_vectors",
    "queries": "query_vectors",
    "test": "query_vectors",
    "indices": "neighbor_indices",
    "neighbors": "neighbor_indices",
    "ground_truth": "neighbor_indices",
    "gt": "neighbor_indices",
    "distances": "neighbor_distances",
    "meta_predicates": "metadata_predicates",
    "meta_results": "predicate_results",
    "meta_layout": "metadata_layout",
    "layout": "metadata_layout",
    "meta_content": "metadata_content",
    "content": "metadata_content",
    "meta_base": "metadata_content",
    "filtered_indices": "filtered_neighbor_indices",
    "filtered_gt": "filtered_neighbor_indices",
    "filtered_ground_truth": "filtered_neighbor_indices",
    # quirk preserved from the reference table (TestDataKind.java:222-223):
    # filtered_distances AND filtered_neighbors both map to the DISTANCES kind
    "filtered_distances": "filtered_neighbor_distances",
    "filtered_neighbors": "filtered_neighbor_distances",
    "base_vectors": "base_vectors",
    "query_vectors": "query_vectors",
    "neighbor_indices": "neighbor_indices",
    "neighbor_distances": "neighbor_distances",
    "base_content": "base_content",
    "query_terms": "query_terms",
    "query_filters": "query_filters",
    "metadata_predicates": "metadata_predicates",
    "predicate_results": "predicate_results",
    "metadata_layout": "metadata_layout",
    "metadata_content": "metadata_content",
    "filtered_neighbor_indices": "filtered_neighbor_indices",
    "filtered_neighbor_distances": "filtered_neighbor_distances",
}

_SRC_RX = re.compile(
    r"""^(?P<path>[^\[\(]+?)\s*(?:\[(?P<window>[^\]]+)\]|\((?P<count>\d+)\))?\s*$"""
)


@dataclass
class FacetSpec:
    source: str
    window: list[tuple[int, int]] | None = None
    type: str | None = None  # 'xvec' | 'virtdata' | None (inferred)

    @classmethod
    def parse(cls, spec) -> "FacetSpec":
        if isinstance(spec, dict):
            src = spec.get("source") or spec.get("file")
            win = spec.get("window")
            base = cls.parse(src)
            if win is not None:
                base.window = _parse_window_sugar(str(win))
            if spec.get("type") is not None:
                base.type = str(spec["type"])
            return base
        m = _SRC_RX.match(str(spec))
        if not m:
            raise ValueError(f"unparseable facet source: {spec!r}")
        window = None
        if m.group("window"):
            window = _parse_window_sugar(m.group("window"))
        elif m.group("count"):
            window = [(0, int(m.group("count")))]
        return cls(source=m.group("path").strip(), window=window)

    def resolved_type(self) -> str:
        """Type-inference rules (dataset_yaml_v1.md:91-94): explicit type
        wins; paths ending in .json are virtdata; everything else xvec."""
        if self.type:
            return self.type
        return "virtdata" if self.source.endswith(".json") else "xvec"


def _parse_window_sugar(text: str) -> list[tuple[int, int]]:
    """``0..1000`` or ``a..b,c..d`` or bare count (dataset_yaml_v1.md:65-79)."""
    out = []
    for part in text.split(","):
        part = part.strip()
        if ".." in part:
            a, b = part.split("..")
            out.append((parse_unit_count(a), parse_unit_count(b)))
        else:
            out.append((0, parse_unit_count(part)))
    return out


def _virtdata_facet(spark: SparkSession, model_path: str, spec: "FacetSpec") -> DataFrame:
    """Resolve a virtdata facet: load the model JSON (per-space generator
    parameters; deterministic on the vector index per dataset_yaml_v1.md
    §3.2) and produce the (ordinal, vector) frame via the counter-based
    generator. The view size comes from the facet window (``model.json[N]``
    sugar) or the model's own ``count``."""
    import json

    from nbdatatools_spark.datagen import generate_vectors

    with open(model_path) as fh:
        model = json.load(fh)
    if "dimensions" not in model:
        raise ValueError(f"virtdata model {model_path} must declare 'dimensions'")
    if spec.window:
        count = max(b for _, b in spec.window)
    elif "count" in model:
        count = int(model["count"])
    else:
        raise ValueError(
            f"virtdata facet {model_path} needs a window (model.json[N]) or a "
            f"'count' in the model JSON"
        )
    return generate_vectors(
        spark,
        count=count,
        dimensions=int(model["dimensions"]),
        seed=int(model.get("seed", 42)),
        variability=float(model.get("variability", 1.0)),
        scale=float(model.get("scale", 0.0)),
        zeroes_proportion=float(model.get("zeroes_proportion", 0.0)),
        duplicates_proportion=float(model.get("duplicates_proportion", 0.0)),
    )


@dataclass
class Profile:
    name: str
    facets: dict[str, FacetSpec] = field(default_factory=dict)


def _expand_sized(spec) -> list[int]:
    """Sized-profile expansion (layoutv2/DSSizedExpander.java:31-65):
    ``10m`` scalar; ``a..b/step`` arithmetic; ``fib:a..b`` fibonacci-ish
    progression; ``mul:a..b/k`` geometric."""
    sizes: list[int] = []
    for item in spec if isinstance(spec, list) else [spec]:
        s = str(item).strip()
        if s.startswith("fib:"):
            a, b = s[4:].split("..")
            lo, hi = parse_unit_count(a), parse_unit_count(b)
            x, y = lo, lo
            while x <= hi:
                sizes.append(x)
                x, y = x + y, x
        elif s.startswith("mul:"):
            body = s[4:]
            rng, k = body.split("/")
            a, b = rng.split("..")
            lo, hi, k = parse_unit_count(a), parse_unit_count(b), parse_unit_count(k)
            x = lo
            while x <= hi:
                sizes.append(x)
                x *= k
        elif ".." in s:
            rng, _, step = s.partition("/")
            a, b = rng.split("..")
            lo, hi = parse_unit_count(a), parse_unit_count(b)
            st = parse_unit_count(step) if step else max(hi - lo, 1)
            x = lo
            while x <= hi:
                sizes.append(x)
                x += st
        else:
            sizes.append(parse_unit_count(s))
    return sizes


def _size_label(n: int) -> str:
    for mult, suffix in ((10**9, "b"), (10**6, "m"), (10**3, "k")):
        if n % mult == 0:
            return f"{n // mult}{suffix}"
    return str(n)


class DatasetManifest:
    """Parsed dataset.yaml with two-pass profile inheritance and sized
    expansion; resolves facets to DataFrames on demand."""

    def __init__(self, root: str, data: dict):
        self.root = root
        self._data = data
        self.attributes: dict = dict(data.get("attributes") or {})
        self.name: str = data.get("name") or os.path.basename(os.path.normpath(root))
        # variables: inline section first, then variables.yaml overlay wins
        # (TestDataGroup.java:129-150 — both coerced to string values)
        self.variables: dict[str, str] = {
            str(k): str(v) for k, v in (data.get("variables") or {}).items()
        }
        overlay_path = os.path.join(root, "variables.yaml")
        if os.path.exists(overlay_path):
            with open(overlay_path) as f:
                otext = f.read()
            overlay = yaml.safe_load(otext) if _HAVE_YAML else json.loads(otext)
            if isinstance(overlay, dict):
                self.variables.update({str(k): str(v) for k, v in overlay.items()})
        raw_profiles: dict = dict(data.get("profiles") or {})
        # pass 1: default
        self.profiles: dict[str, Profile] = {}
        default_raw = raw_profiles.get("default") or {}
        self.profiles["default"] = self._build_profile("default", default_raw, None)
        # pass 2: others inherit default (DSProfileGroup.java:60-93)
        for pname, praw in raw_profiles.items():
            if pname == "default":
                continue
            if isinstance(praw, dict) and "sized" in praw:
                for n in _expand_sized(praw["sized"]):
                    label = f"{pname}:{_size_label(n)}"
                    prof = self._build_profile(
                        label, {k: v for k, v in praw.items() if k != "sized"},
                        self.profiles["default"],
                    )
                    for facet in prof.facets.values():
                        if facet.window is None:
                            facet.window = [(0, n)]
                    self.profiles[label] = prof
                continue
            self.profiles[pname] = self._build_profile(
                pname, praw or {}, self.profiles["default"]
            )

    def _build_profile(self, name: str, raw: dict, default: Profile | None) -> Profile:
        facets: dict[str, FacetSpec] = {}
        if default is not None:
            # copy inherited specs — sized expansion mutates windows, and a
            # shared instance would leak the mutation into the default profile
            facets.update(
                {k: FacetSpec(v.source, list(v.window) if v.window else None)
                 for k, v in default.facets.items()}
            )
        for key, spec in (raw or {}).items():
            kind = FACET_ALIASES.get(str(key).lower())
            if kind is None:
                continue
            facets[kind] = FacetSpec.parse(spec)
        return Profile(name, facets)

    def get_variable(self, name: str, default: str | None = None) -> str | None:
        """Variable lookup after the variables.yaml overlay pass
        (TestDataGroup.java:188-216)."""
        return self.variables.get(name, default)

    def attr(self, spec: str):
        """Typed attribute lookup by attribute specifier (AttrSpec syntax,
        attribute_syntax_v1.md): ``license`` / ``:license`` read from
        /attributes; an explicit path like ``/attributes/license`` or
        ``/variables/token`` walks the manifest sections. String leaves are
        parsed through AttrValue type inference; non-strings pass through."""
        from nbdatatools_spark.functions.attrs import AttrSpec, AttrValue

        s = AttrSpec.parse(spec)
        node: object = self._data
        if s.path in ("", "/"):
            node = self._data.get("attributes") or {}
        else:
            for seg in s.path.strip("/").split("/"):
                if not isinstance(node, dict) or seg not in node:
                    raise KeyError(f"no manifest section {s.path!r}")
                node = node[seg]
        if not isinstance(node, dict) or s.attr not in node:
            raise KeyError(f"no attribute {s.attr!r} at {s.path!r}")
        v = node[s.attr]
        return AttrValue.parse(v).value if isinstance(v, str) else v

    def profile(self, name: str | None = None) -> Profile:
        """Name normalization per TestDataGroup.java:242-260: 'a:b:c' resolves
        last-segment-first; the dataset's own name means 'default'."""
        if name is None or name == self.name:
            name = "default"
        if name in self.profiles:
            return self.profiles[name]
        short = name.split(":")[-1]
        if short in self.profiles:
            return self.profiles[short]
        raise KeyError(f"no profile {name!r}; have {sorted(self.profiles)}")

    def facet(self, spark: SparkSession, facet_kind: str, profile: str | None = None) -> DataFrame:
        prof = self.profile(profile)
        kind = FACET_ALIASES.get(facet_kind.lower(), facet_kind)
        if kind not in prof.facets:
            raise KeyError(f"profile {prof.name!r} has no facet {facet_kind!r}")
        spec = prof.facets[kind]
        path = spec.source
        if not os.path.isabs(path):
            path = os.path.join(self.root, path)
        if spec.resolved_type() == "virtdata":
            # model-backed generated view (dataset_yaml_v1.md:89-94,143-145;
            # reference downloader/VirtualVectorTestDataView.java): the
            # model JSON declares the generator parameters, vector i is a
            # pure function of (seed, i) — datagen.generate_vectors
            df = _virtdata_facet(spark, path, spec)
        else:
            from nbdatatools_spark.sources import open_vectors

            df = open_vectors(spark, path)
        if spec.window:
            df = window_slice(df, [f"{a}..{b}" for a, b in spec.window])
        return df


def plan_missing_artifacts(manifest: "DatasetManifest") -> list[dict]:
    """``datasets plan`` (README.md:72): walk every profile's facets and list
    the artifacts whose source files are absent, with the engine operation
    that would build each (the reference emits nbvectors commands; the
    engine's analogue is the operator to run)."""
    build_ops = {
        "base_vectors": "datagen.generate_vectors + sources.xvec.write_xvec",
        "query_vectors": "datagen.generate_vectors + sources.xvec.write_xvec",
        "neighbor_indices": "operators.knn.exact_knn -> indices + write_xvec",
        "neighbor_distances": "operators.knn.exact_knn -> distances + write_xvec",
    }
    missing: list[dict] = []
    seen: set[tuple] = set()
    for pname, prof in manifest.profiles.items():
        for kind, spec in prof.facets.items():
            path = spec.source
            if not os.path.isabs(path):
                path = os.path.join(manifest.root, path)
            if os.path.exists(path):
                continue
            key = (kind, path)
            if key in seen:
                continue
            seen.add(key)
            missing.append(
                {
                    "profile": pname,
                    "facet": kind,
                    "path": path,
                    "build_with": build_ops.get(kind, "sources.convert / write_xvec"),
                }
            )
    return missing


def dataset_info(manifest: "DatasetManifest") -> dict:
    """``vectordata info`` / ``views`` / ``profiles`` (README.md:76-80):
    one structured summary of the manifest — attributes, variables, and
    per-profile facet views with their sources and windows."""
    return {
        "name": manifest.name,
        "root": manifest.root,
        "attributes": dict(manifest._data.get("attributes") or {}),
        "variables": dict(manifest.variables),
        "profiles": {
            pname: {
                kind: {
                    "source": spec.source,
                    "window": list(spec.window) if spec.window else None,
                }
                for kind, spec in prof.facets.items()
            }
            for pname, prof in manifest.profiles.items()
        },
    }


def view_size(manifest: "DatasetManifest", facet_kind: str, profile: str | None = None) -> dict:
    """``vectordata size`` (README.md:81): counts/dimensions for one view
    WITHOUT a Spark scan — xvec sizes come from the first record header +
    file size, parquet from the footer metadata. Windows clip the count."""
    prof = manifest.profile(profile)
    kind = FACET_ALIASES.get(facet_kind.lower(), facet_kind)
    if kind not in prof.facets:
        raise KeyError(f"profile {prof.name!r} has no facet {facet_kind!r}")
    spec = prof.facets[kind]
    path = spec.source
    if not os.path.isabs(path):
        path = os.path.join(manifest.root, path)
    ext = path.rsplit(".", 1)[-1].lower()
    if ext == "parquet":
        import pyarrow.parquet as pq

        count, dim = pq.read_metadata(path).num_rows, None
    else:
        from nbdatatools_spark.sources.xvec import _file_meta

        dim, _, count = _file_meta(path)
    if spec.window:
        count = sum(min(b, count) - min(a, count) for a, b in spec.window)
    return {"facet": kind, "source": spec.source, "count": count, "dimensions": dim}


def view_sample(
    spark: SparkSession,
    manifest: "DatasetManifest",
    facet_kind: str,
    profile: str | None = None,
    n: int = 10,
) -> DataFrame:
    """``vectordata sample`` / the bounded form of ``cat`` (README.md:82-84):
    first n rows of a view in ordinal order. Spark plans this as a top-n
    (TakeOrderedAndProject): every chunk of the facet is still decoded, and
    each task keeps only its n smallest ordinals before the final merge."""
    return manifest.facet(spark, facet_kind, profile).orderBy("ordinal").limit(n)


def curlify(
    manifest: "DatasetManifest",
    base_url: str,
    profiles: list[str] | None = None,
) -> list[str]:
    """``datasets curlify`` (README.md:73, commandstream.md §datasets
    curlify): emit curl commands that download exactly the bytes the chosen
    profiles need from a remote dataset root. Windowed xvec facets become
    HTTP range requests (``-r lo-hi``): record window [a,b) over a file with
    stride 4+dim*cbytes maps to bytes [a*stride, b*stride). Byte ranges are
    only computable when the manifest declares ``dimensions``; other facets
    fall back to whole-file fetches."""
    base_url = base_url.rstrip("/")
    try:
        dim = int(manifest.attr("dimensions"))
    except (KeyError, TypeError, ValueError):
        dim = None
    cmds = [f"curl -fsSL -o dataset.yaml {base_url}/dataset.yaml"]
    seen: set[str] = set()
    names = profiles or list(manifest.profiles)
    for pname in names:
        for spec in manifest.profile(pname).facets.values():
            from nbdatatools_spark.sources.xvec import xvec_dtype

            rng = ""
            if spec.window and len(spec.window) == 1 and dim:
                try:
                    _, cbytes, _ = xvec_dtype(spec.source)
                except ValueError:
                    cbytes = None
                if cbytes:
                    stride = 4 + dim * cbytes
                    a, b = spec.window[0]
                    rng = f" -r {a * stride}-{b * stride - 1}"
            cmd = f"curl -fsSL{rng} -o {spec.source} {base_url}/{spec.source}"
            if cmd not in seen:
                seen.add(cmd)
                cmds.append(cmd)
    return cmds


def load_dataset(root: str) -> DatasetManifest:
    """Load <root>/dataset.yaml (VectorTestData.load analogue,
    VectorTestData.java:43-56)."""
    path = os.path.join(root, "dataset.yaml")
    with open(path) as f:
        text = f.read()
    if _HAVE_YAML:
        data = yaml.safe_load(text)
    else:  # minimal fallback; dataset.yaml fixtures are JSON-compatible
        data = json.loads(text)
    if not isinstance(data, dict):
        raise ValueError(f"{path}: manifest must be a mapping")
    return DatasetManifest(root, data)
