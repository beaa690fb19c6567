"""SET statement interception, including the EMR conf-name shim.

The reference patches Hive's SetProcessor so EMR-only conf keys (e.g.
``hive.optimize.s3.query``) are rewritten into a harmless ``emrhive.``
namespace instead of erroring on a local cluster (ManifestRunner.java:28-30,
136-153). Our runner owns the SET path outright:

- ``SET``            -> list session overrides
- ``SET -v``         -> list overrides + Spark conf
- ``SET key``        -> print ``key=value``
- ``SET key=value``  -> apply

Keys are routed: ``spark.*`` go to the live Spark conf; known Hive keys with a
Spark equivalent are translated (reduce parallelism -> shuffle partitions);
EMR-only and any other ``hive.*``/``mapred.*``/legacy keys are stored in the
local conf dict (visible to ``${hiveconf:...}``) without error - mirroring the
shim's "accept, don't apply" posture.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

#: EMR-only keys the reference explicitly shims (ManifestRunner.java:28-30).
EMR_ONLY_PREFIXES = ("hive.optimize.s3.",)
EMR_SHIM_NAMESPACE = "emrhive."

# Hive conf -> Spark conf translations are applied inline in apply():
# mapred.reduce.tasks / hive.exec.reducers.max -> spark.sql.shuffle.partitions,
# hive.auto.convert.join=false -> autoBroadcastJoinThreshold=-1, and
# hive.exec.parallel is recorded but never applied (forced sequential,
# ManifestRunner.java:114-120). Each needs value-dependent logic, so there is
# deliberately no lookup table.

_SET_RE = re.compile(r"^\s*SET(\s+(?P<rest>.*))?$", re.IGNORECASE | re.DOTALL)


class SetProcessor:
    """Owns SET semantics for a runner session."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.local_conf: dict[str, str] = {}
        #: ``SET hivevar:NAME=v`` definitions - the hivevar namespace, merged
        #: into ${...} substitution by the executor (Hive: SetProcessor routes
        #: hivevar: into the variable substitution map, not the conf).
        self.variables: dict[str, str] = {}
        #: Manifest/task-level variables (the executor refreshes this per
        #: script) so ``SET hivevar:NAME`` display agrees with what ``${NAME}``
        #: substitution resolves; SET-defined variables take precedence.
        self.task_variables: dict[str, str] = {}
        #: autoBroadcastJoinThreshold before the first auto.convert.join=false
        #: in this session (None until then); 'true' restores it.
        self._saved_broadcast: str | None = None

    def get(self, key: str, default: str | None = None) -> str | None:
        """The one conf lookup behind ``SET key`` display and
        ``${hiveconf:key}`` substitution: SET overrides first, then the live
        Spark conf, whose unset keys read as their defaults. A key neither
        knows gives ``default``."""
        if key in self.local_conf:
            return self.local_conf[key]
        try:
            val = self.spark.conf.get(key)  # None for an unset optional key
        except Exception:  # a key Spark does not know
            val = None
        return default if val is None else val

    def process(self, stmt: str) -> list[str]:
        """Handle a SET statement; returns printable output lines."""
        m = _SET_RE.match(stmt)
        rest = (m.group("rest") or "").strip() if m else ""
        if not rest:
            return [f"{k}={v}" for k, v in sorted(self.local_conf.items())]
        if rest == "-v":
            lines = [f"{k}={v}" for k, v in sorted(self.local_conf.items())]
            lines += [f"{k}={v}" for k, v in sorted(self.spark.sparkContext.getConf().getAll())]
            return lines
        if "=" not in rest:
            key = rest.strip()
            if " " in key or "\t" in key:
                # Keyword forms like 'SET ROLE admin' are commands, not
                # conf-key lookups; accept without applying (shim posture).
                return [f"SET {key}: unsupported command (ignored)"]
            if key.startswith("hivevar:"):
                name = key[len("hivevar:"):]
                val = self.variables.get(name, self.task_variables.get(name, "<undefined>"))
                return [f"{key}={val}"]
            # 'SET hiveconf:k' reads the same key 'SET hiveconf:k=v' wrote
            # (apply() strips the namespace prefix before storing).
            lookup = key[len("hiveconf:"):] if key.startswith("hiveconf:") else key
            return [f"{key}={self.get(lookup, '<undefined>')}"]

        key, _, value = rest.partition("=")
        key, value = key.strip(), value.strip()
        self.apply(key, value)
        return []

    def apply(self, key: str, value: str) -> None:
        # Namespace routing first (Hive SetProcessor contract):
        # hivevar: -> substitution variables; hiveconf: -> plain conf key.
        if key.startswith("hivevar:"):
            self.variables[key[len("hivevar:"):]] = value
            return
        if key.startswith("hiveconf:"):
            key = key[len("hiveconf:"):]
        # EMR-only keys: accept into the shim namespace, never error (A9).
        if any(key.startswith(p) for p in EMR_ONLY_PREFIXES):
            self.local_conf[EMR_SHIM_NAMESPACE + key] = value
            self.local_conf[key] = value
            return
        if key == "hive.exec.parallel":
            # Parallel task launch is forced off (statements run sequentially
            # by construction); record but never apply.
            self.local_conf[key] = value
            return
        if key in ("mapred.reduce.tasks", "hive.exec.reducers.max"):
            self.local_conf[key] = value
            if value.lstrip("-").isdigit() and int(value) > 0:
                self.spark.conf.set("spark.sql.shuffle.partitions", value)
            return
        if key == "hive.auto.convert.join":
            self.local_conf[key] = value
            if value.lower() == "false":
                # remember the pre-false threshold once, so 'true' can
                # restore it (a one-way -1 pin silently disabled broadcast
                # joins for the rest of the session)
                if self._saved_broadcast is None:
                    try:
                        self._saved_broadcast = self.spark.conf.get(
                            "spark.sql.autoBroadcastJoinThreshold"
                        )
                    except Exception:
                        self._saved_broadcast = "10485760b"  # Spark default
                self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            elif value.lower() == "true":
                if self._saved_broadcast is not None:
                    restore = self._saved_broadcast
                    if restore == "-1":  # session launched with broadcast off
                        restore = "10485760b"
                    self.spark.conf.set(
                        "spark.sql.autoBroadcastJoinThreshold", restore
                    )
                else:
                    # 'true' with no prior 'false' in this session: only the
                    # -1 pin (broadcast disabled) needs undoing; a custom
                    # session threshold this processor never touched stays.
                    try:
                        cur = self.spark.conf.get(
                            "spark.sql.autoBroadcastJoinThreshold"
                        )
                    except Exception:
                        cur = None
                    if cur == "-1":
                        self.spark.conf.set(
                            "spark.sql.autoBroadcastJoinThreshold", "10485760b"
                        )
            return
        if key.startswith("spark."):
            try:
                self.spark.conf.set(key, value)
            except Exception:
                pass  # static confs can't change at runtime; record anyway
            self.local_conf[key] = value
            return
        # Any other key (hive.*, mapred.*, custom): record locally so
        # ${hiveconf:...} sees it; no error for unknown keys.
        self.local_conf[key] = value
