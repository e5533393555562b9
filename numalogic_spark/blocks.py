"""Block pipeline — the reference's BlockPipeline re-expressed Spark-first.

Reference semantics (blocks/pipeline.py:23-174, blocks/_base.py:19-135):
a pipeline is an ordered sequence of named blocks; ``fit`` trains each
block and feeds its transformed output to the next; ``run`` replays
inference; stateful blocks expose an ``artifact_state`` that ``save``
collects into one registry artifact dict and ``load`` restores, so a
fitted pipeline round-trips through the artifact registry.

Spark translation of each piece:

- A block's **fitted state is a model-sized stats frame** (one row per
  group — the fit aggregations of config._scaler_factory). ``fit`` runs
  the aggregation once; ``run`` broadcast-joins the stats back — the
  registry save/load hop of the reference collapses into a broadcast
  join, and the serialized artifact is just the stats rows + schema
  (JSON-able, exactly reproducible: createDataFrame on load).
- Stateless blocks are compiled Column chains (TRANSFORM_FACTORY) — no
  state, nothing saved (``stateful=False``, mirroring StatelessBlock).
- The registry is a JSON-artifact store over the Hadoop FileSystem API
  (works for file:///, hdfs://, s3a://), keyed by skeys/dkeys like the
  reference's RedisRegistry (registry/redis_registry.py key construction).

Scale note: artifact size = Σ per-block stats rows = O(groups · blocks),
the same cardinality the reference stores per composite key; the corpus
itself never moves through the registry.
"""

from __future__ import annotations

import json
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

from numalogic_spark.config import (
    TRANSFORM_FACTORY,
    StageConf,
    _scaler_factory,
    _split_estimator_conf,
    compile_transform_chain,
)


class SparkBlock:
    """A fitted-estimator block: fit = one aggregation producing a tiny
    stats frame; run = broadcast-join + closed-form transform. ``name``
    defaults to the estimator name lowercased (reference blocks name
    themselves, blocks/_transform.py)."""

    def __init__(
        self,
        estimator: str,
        metrics: list[str],
        name: str | None = None,
        by: list[str] | None = None,
        conf: dict[str, Any] | None = None,
    ):
        factory = _scaler_factory()
        if estimator not in factory:
            raise ValueError(
                f"unknown estimator: {estimator!r}; available: {sorted(factory)}"
            )
        self._fit_fn, self._apply_fn = factory[estimator]
        self.estimator = estimator
        self.metrics = list(metrics)
        self.by = list(by) if by else None
        self.conf = dict(conf or {})
        # route conf kwargs to fit vs transform by signature (a TanhScaler
        # coeff is transform-time; std_factor is fit-time)
        self._fit_kw, self._tx_kw = _split_estimator_conf(
            self._fit_fn, self._apply_fn, self.conf
        )
        self._name = name or estimator.lower()
        self._state: dict[str, Any] | None = None

    # -- reference Block surface --------------------------------------------
    @property
    def name(self) -> str:
        return self._name

    @property
    def stateful(self) -> bool:
        return True

    @property
    def artifact_state(self) -> dict[str, Any]:
        if self._state is None:
            raise ValueError(f"block {self._name!r} is not fitted yet")
        return self._state

    @artifact_state.setter
    def artifact_state(self, state: dict[str, Any]) -> None:
        self._state = state

    # -- fit / run ------------------------------------------------------------
    def fit(self, df: DataFrame, **fit_params) -> DataFrame:
        extra_fit, extra_tx = _split_estimator_conf(
            self._fit_fn, self._apply_fn, fit_params
        )
        # per-call params are PER-CALL (reference semantics, nn__max_epochs
        # style): they must not become sticky block state — persistent
        # transform params belong in conf=
        stats = self._fit_fn(
            df, self.metrics, by=self.by, **{**self._fit_kw, **extra_fit}
        )
        # model-sized by construction (one row per group): collect into the
        # serializable artifact, then apply through the same broadcast path
        # run() uses so fit output == run output on the same data
        self._state = {
            "schema": stats.schema.jsonValue(),
            "rows": [list(r) for r in stats.collect()],
        }
        return self.run(df, **extra_tx)

    def run(self, df: DataFrame, **tx_overrides) -> DataFrame:
        from pyspark.sql import types as T

        st = self.artifact_state
        schema = T.StructType.fromJson(st["schema"])
        stats = df.sparkSession.createDataFrame(
            [tuple(r) for r in st["rows"]], schema=schema
        )
        return self._apply_fn(
            df, stats, self.metrics, by=self.by, **{**self._tx_kw, **tx_overrides}
        )


class TransformBlock(SparkBlock):
    """Stateless block: a TRANSFORM_FACTORY chain compiled into ONE
    projection (the StatelessBlock analog — nothing fitted, nothing
    saved)."""

    def __init__(
        self,
        stages: list[StageConf],
        metrics: list[str],
        name: str = "transform",
        suffix: str = "",
    ):
        for st in stages:
            if st.name not in TRANSFORM_FACTORY:
                raise ValueError(
                    f"unknown transform: {st.name!r}; available: "
                    f"{sorted(TRANSFORM_FACTORY)}"
                )
        self.stages = list(stages)
        self.metrics = list(metrics)
        self.suffix = suffix
        self._name = name
        self._state = None  # stateless; keeps artifact_state's ValueError
        # contract instead of an AttributeError on probe

    @property
    def stateful(self) -> bool:
        return False

    def fit(self, df: DataFrame, **fit_params) -> DataFrame:
        if fit_params:
            raise ValueError(f"stateless block {self._name!r} takes no fit params")
        return self.run(df)

    def run(self, df: DataFrame) -> DataFrame:
        for m in self.metrics:
            df = df.withColumn(
                f"{m}{self.suffix}", compile_transform_chain(m, self.stages)
            )
        return df


class JsonBlockRegistry:
    """Artifact registry analog: one JSON document per (skeys, dkeys) key
    pair under ``root``, written/read through the Hadoop FileSystem API so
    file:///, hdfs:// and s3a:// roots all work. Mirrors the reference's
    key construction (skeys/dkeys joined with ':') and latest-wins
    versioning (redis_registry.py)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    def _path(self, skeys: list[str], dkeys: list[str]) -> str:
        # human-readable '__'-joined prefix (':' would parse as a URI
        # scheme separator in a Hadoop Path) + an identity hash of the
        # exact (skeys, dkeys) structure: flattening alone would collide
        # (['a','b'],['c']) with (['a'],['b','c']) — the reference keeps
        # them distinct via ':'/'::' separators (redis_registry
        # construct_key), the hash suffix keeps them distinct here.
        import hashlib

        ident = hashlib.sha256(
            json.dumps([list(skeys), list(dkeys)]).encode()
        ).hexdigest()[:8]
        key = "__".join([*skeys, *dkeys]).replace("/", "_").replace(":", "_")
        return f"{self.root}/{key}-{ident}.json"

    def save(self, skeys: list[str], dkeys: list[str], artifacts: dict) -> str:
        jvm = self.spark._jvm
        path = self._path(skeys, dkeys)
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        out = fs.create(p, True)
        try:
            out.write(bytearray(json.dumps(artifacts).encode("utf-8")))
        finally:
            out.close()
        return path

    def load(self, skeys: list[str], dkeys: list[str]) -> dict:
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(self._path(skeys, dkeys))
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        stream = fs.open(p)
        try:
            reader = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            chunks = []
            line = reader.readLine()
            while line is not None:
                chunks.append(line)
                line = reader.readLine()
        finally:
            stream.close()
        return json.loads("\n".join(chunks))


class BlockPipeline:
    """Sequence of blocks, reference contract (blocks/pipeline.py):
    ``fit`` chains block fits (each feeding the next), ``run`` chains
    inference, ``save``/``load`` round-trip every stateful block's
    artifact_state through the registry, fit params address blocks as
    ``blockname__param``."""

    def __init__(self, *blocks: SparkBlock, registry: JsonBlockRegistry | None = None):
        names = [b.name for b in blocks]
        dupes = {n for n in names if names.count(n) > 1}
        if dupes:
            # duplicate names would silently overwrite each other in the
            # saved artifact dict and load the wrong state on round-trip
            raise ValueError(
                f"duplicate block names {sorted(dupes)}; give each block a "
                f"unique name="
            )
        self._blocks = blocks
        self._registry = registry

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.run(df)

    def __getitem__(self, idx: int) -> SparkBlock:
        return self._blocks[idx]

    def __len__(self) -> int:
        return len(self._blocks)

    def __iter__(self) -> Iterator[SparkBlock]:
        return iter(self._blocks)

    def named_blocks(self) -> Iterator[tuple[str, SparkBlock]]:
        return ((b.name, b) for b in self._blocks)

    def _get_block_params(self, **fit_params) -> dict[str, dict]:
        block_params: dict[str, dict] = {b.name: {} for b in self._blocks}
        err_msg = (
            "Invalid kwarg: {pname} found. Keyword args of "
            "BlockPipeline must be of the form blockname__parameter, "
            "e.g. `block_pipeline.fit(data, nn__max_epochs=50)`"
        )
        for pname, pval in fit_params.items():
            if "__" not in pname:
                raise ValueError(err_msg.format(pname=pname))
            blockname, param = pname.split("__", 1)
            if blockname not in block_params:
                raise ValueError(
                    f"fit param {pname!r} addresses unknown block "
                    f"{blockname!r}; blocks: {sorted(block_params)}"
                )
            block_params[blockname][param] = pval
        return block_params

    def fit(self, df: DataFrame, **fit_params) -> DataFrame:
        params = self._get_block_params(**fit_params)
        for block in self._blocks:
            df = block.fit(df, **params.get(block.name, {}))
        return df

    def run(self, df: DataFrame) -> DataFrame:
        for block in self._blocks:
            df = block.run(df)
        return df

    def save(self, skeys: list[str], dkeys: list[str]) -> str:
        if not self._registry:
            raise ValueError("No registry provided.")
        artifacts = {
            b.name: b.artifact_state for b in self._blocks if b.stateful
        }
        return self._registry.save(skeys, dkeys, artifacts)

    def load(self, skeys: list[str], dkeys: list[str]) -> None:
        if not self._registry:
            raise ValueError("No registry provided.")
        artifacts = self._registry.load(skeys, dkeys)
        for block in self._blocks:
            if block.stateful:
                block.artifact_state = artifacts[block.name]
