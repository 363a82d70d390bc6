"""Engine configuration loader — the ``sagan.yaml`` analog
(SURVEY.md §3.1; [U] upstream src/config-yaml.c ``Load_YAML_Config()``).

A reference user drives Sagan with a YAML file naming variables, rule
files, classification/reference configs, processor dims, and outputs;
this loader gives the same surface for the Spark engine:

```yaml
vars:
  HOME_NET: any
rules:
  - web.rules            # Snort/Sagan grammar, parsed by rules/parser
classification: classification.config   # "name,desc,priority" lines
processors:
  geoip: geoip.csv        # cidr,cc
  blacklist: blacklist.csv  # cidr,list_name
  intel: intel.tsv        # indicator<TAB>type<TAB>source
  program_proto: proto.csv  # source,proto
outputs: [fast, alert, eve]
```

Relative paths resolve against the YAML file's directory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import yaml

from pyspark.sql import SparkSession

from sagan_spark.pipeline import Pipeline
from sagan_spark.rules.fixture_rules import ip_to_long
from sagan_spark.rules.model import Rule
from sagan_spark.rules.parser import parse_rules
from sagan_spark.session import local_df


@dataclass
class EngineConfig:
    rules: list[Rule]
    classifications: list[tuple[str, str, int]]
    geo_ranges: list[tuple[int, int, int, str]] = field(default_factory=list)
    blacklist: list[tuple[int, int, int, str]] = field(default_factory=list)
    intel: list[tuple[str, str, str]] = field(default_factory=list)
    program_proto: list[tuple[str, str]] = field(default_factory=list)
    outputs: list[str] = field(default_factory=lambda: ["fast"])


def _cidr_rows(lines: list[str]) -> list[tuple[int, int, int, str]]:
    out = []
    for ln in lines:
        ln = ln.strip()
        if not ln or ln.startswith("#"):
            continue
        cidr, val = [p.strip() for p in ln.split(",", 1)]
        net, plen = cidr.split("/")
        start = ip_to_long(net)
        out.append((start, start + (1 << (32 - int(plen))) - 1, int(plen), val))
    return out


def load_config(path: str) -> EngineConfig:
    base = os.path.dirname(os.path.abspath(path))

    def rel(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(base, p)

    with open(path) as f:
        doc = yaml.safe_load(f)

    variables = {str(k): str(v) for k, v in (doc.get("vars") or {}).items()}
    rules: list[Rule] = []
    for rf in doc.get("rules") or []:
        with open(rel(rf)) as f:
            rules.extend(parse_rules(f.read(), variables))

    classifications = []
    if doc.get("classification"):
        with open(rel(doc["classification"])) as f:
            for ln in f:
                ln = ln.strip()
                if not ln or ln.startswith("#"):
                    continue
                # classification.config grammar: "config classification:
                # name,description,priority" ([U] src/classifications.c)
                body = ln.split("classification:", 1)[-1].strip() if "classification:" in ln else ln
                name, desc, pri = [p.strip() for p in body.split(",")]
                classifications.append((name, desc, int(pri)))

    procs = doc.get("processors") or {}
    cfg = EngineConfig(rules=rules, classifications=classifications)
    if procs.get("geoip"):
        with open(rel(procs["geoip"])) as f:
            cfg.geo_ranges = _cidr_rows(f.readlines())
    if procs.get("blacklist"):
        with open(rel(procs["blacklist"])) as f:
            cfg.blacklist = _cidr_rows(f.readlines())
    if procs.get("intel"):
        with open(rel(procs["intel"])) as f:
            cfg.intel = [
                tuple(ln.rstrip("\n").split("\t"))
                for ln in f
                if ln.strip() and not ln.startswith("#")
            ]
    if procs.get("program_proto"):
        with open(rel(procs["program_proto"])) as f:
            cfg.program_proto = [
                tuple(p.strip() for p in ln.split(","))
                for ln in f
                if ln.strip() and not ln.startswith("#")
            ]
    cfg.outputs = list(doc.get("outputs") or ["fast"])
    return cfg


def pipeline_from_config(spark: SparkSession, path: str) -> Pipeline:
    """Build a Pipeline from a YAML config (dims override the fixture
    dims when present)."""
    from sagan_spark.enrich.enrich import geo_dim_df

    cfg = load_config(path)
    pipe = Pipeline(spark, cfg.rules)
    if cfg.classifications:
        pipe.cls = local_df(
            spark, cfg.classifications, "classtype string, description string, priority int"
        )
    if cfg.geo_ranges:
        pipe.geo = geo_dim_df(spark, cfg.geo_ranges)
    if cfg.program_proto:
        pipe.pmap = local_df(spark, cfg.program_proto, "source string, proto string")
    return pipe
