"""Runner configuration — the Spark analog of the reference's HOCON-based
FlinkConfig (reference model/FlinkConfig.scala): 12-factor-ish config with
per-job source and sink blocks, resolved through plain dicts (JSON/YAML
friendly) instead of HOCON.

Shape:

    {
      "system.name": "my-app",
      "environment": "dev",
      "jobs": {
        "MyJob": {
          "sources": {"in":  {"connector": "file", "path": ..., "format": "csv"}},
          "sinks":   {"out": {"connector": "file", "path": ..., "format": "json"}},
          ... job-specific keys ...
        }
      }
    }
"""

from __future__ import annotations

import json
import os
from typing import Any


class RunnerConfig:
    def __init__(self, config: dict | str, job_name: str | None = None):
        if isinstance(config, str):
            with open(config) as f:
                config = json.load(f)
        self._config: dict = dict(config)
        self.job_name = job_name

    def for_job(self, job_name: str) -> "RunnerConfig":
        c = RunnerConfig(self._config, job_name)
        return c

    # -- generic lookups (dotted paths, job-scoped first, env override) --
    def _env_key(self, path: str) -> str:
        return path.upper().replace(".", "_").replace("-", "_")

    def get(self, path: str, default: Any = None) -> Any:
        env = os.environ.get(self._env_key(path))
        if env is not None:
            return env
        scopes = []
        if self.job_name:
            scopes.append(f"jobs.{self.job_name}.{path}")
        scopes.append(path)
        for scoped in scopes:
            node: Any = self._config
            for part in scoped.split("."):
                if isinstance(node, dict) and part in node:
                    node = node[part]
                else:
                    node = _MISSING
                    break
            if node is not _MISSING:
                return node
        return default

    @property
    def system_name(self) -> str:
        return self.get("system.name", "flinkrunner-spark")

    @property
    def environment(self) -> str:
        return str(self.get("environment", "dev"))

    @property
    def is_dev(self) -> bool:
        return self.environment.startswith("dev")

    @property
    def is_prod(self) -> bool:
        return self.environment.startswith("prod")

    @property
    def jobs(self) -> list[str]:
        return sorted(self._config.get("jobs", {}))

    def job_config(self, name: str) -> dict:
        return self._config.get("jobs", {}).get(name, {})

    def _edge_confs(self, job_name: str | None, kind: str) -> dict[str, dict]:
        """Source/sink conf dicts with the RUNNER'S per-job identity
        threaded in as ``job.name`` (unless the conf pins its own): the
        reference's FlinkConfig.jobName flows into every
        KafkaSourceConfig/KafkaSinkConfig, which is what makes two jobs
        sharing a sink name derive DISTINCT consumer groups and
        transactional-id prefixes. Without this, both would fall back
        to the app-wide name and mutually fence (see config.job_name)."""
        jn = job_name or self.job_name
        out = {}
        for name, conf in dict(
            self.job_config(jn).get(kind, {})
        ).items():
            c = dict(conf)
            if jn:
                c.setdefault("job.name", jn)
            out[name] = c
        return out

    def sources(self, job_name: str | None = None) -> dict[str, dict]:
        return self._edge_confs(job_name, "sources")

    def sinks(self, job_name: str | None = None) -> dict[str, dict]:
        return self._edge_confs(job_name, "sinks")


_MISSING = object()


def parse_bootstrap(servers) -> tuple[str, int]:
    """First host:port of a kafka ``bootstrap.servers`` list — shared by
    the sink, source and data-source transports so host parsing has one
    home."""
    first = str(servers or "localhost:9092").split(",")[0].strip()
    host, _, port = first.partition(":")
    return host, int(port or 9092)


def strip_catalog_conf(conf: dict, exclude: tuple = ()) -> dict:
    """``catalog.*`` keys with the prefix stripped (minus ``exclude``) —
    the catalog-client constructor shape shared by the REST and Glue
    routes of `iceberg.catalog_from_conf`."""
    return {
        k.split("catalog.", 1)[1]: v
        for k, v in conf.items()
        if k.startswith("catalog.") and k not in exclude
    }


def job_name(conf: dict) -> str:
    """The job-level identity component (the reference's FlinkConfig
    jobName): ``job.name`` config first, else the Spark APP NAME —
    stable across re-submissions of the same job, unlike the
    applicationId, so identities derived from it (consumer group ids,
    transactional id prefixes) let a restarted run FENCE its crashed
    predecessor's state instead of deriving a fresh identity that
    leaves dangling transactions un-aborted. Two concurrent jobs with
    the same app name sharing a sink name WILL mutually fence — the
    reference's same-jobName behavior, and by design (zombie fencing);
    set job.name to separate them."""
    j = conf.get("job.name")
    if j:
        return str(j)
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if sess is not None:
        return str(sess.sparkContext.appName)
    # last-resort fallback: with neither job.name nor an active session,
    # every caller derives the SAME 'app' identity — two unrelated jobs
    # with same-named sinks would mutually fence each other's
    # transactions / consumer groups (r12 advisor). Warn loudly; callers
    # that need a guaranteed-unique identity must set job.name.
    import warnings

    warnings.warn(
        "job_name(): no job.name configured and no active SparkSession —"
        " falling back to the shared literal 'app'. Transactional sinks"
        " and committed-offset sources derived from it will FENCE any"
        " other job using the same fallback; set job.name to isolate.",
        stacklevel=2,
    )
    return "app"
