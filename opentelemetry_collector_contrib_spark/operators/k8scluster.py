"""k8scluster receiver core → metric translation.

Re-expresses the pod / container / deployment conversions of
``receiver/k8sclusterreceiver/internal``
(pod/pods.go:80-125, container/containers.go:36-115,
deployment/deployments.go:30-38) over DataFrames of the watched
objects at rest (``kind`` ∈ pod | deployment, one object JSON per
row):

- ``k8s.pod.phase``: Pending=1 Running=2 Succeeded=3 Failed=4 else 5;
  ``k8s.pod.status_reason``: Evicted=1 NodeAffinity=2 NodeLost=3
  Shutdown=4 UnexpectedAdmissionError=5 else 6 (pods.go:93-125);
- per spec-container resource requests/limits: cpu =
  ``MilliValue()/1000`` cores (the ``m`` suffix is milli, plain
  values scale ×1000 first), memory/storage/ephemeral-storage =
  ``Value()`` bytes with the binary (Ki/Mi/Gi/Ti) and decimal
  (k/M/G/T) suffixes of resource.Quantity;
- per matching container status: restarts, ready (bool→int), and the
  running/waiting/terminated one-hot ``k8s.container.status.state``
  triple picked by which state object exists; the container id is
  stripped of its ``<runtime>://`` prefix and the image splits into
  repository:tag (containers.go:74-112; image digests and ports in
  registry hosts are out of the simplified split — fixture-pinned);
- deployment: desired (``*Spec.Replicas``) + available replicas.

Plan: from_json + explode per kind, unioned — zero shuffle/Python.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_POD_SCHEMA = """struct<
  metadata: struct<name: string, namespace: string, uid: string>,
  spec: struct<nodeName: string,
               containers: array<struct<name: string,
                 resources: struct<requests: map<string,string>,
                                   limits: map<string,string>>>>>,
  status: struct<phase: string, reason: string,
    containerStatuses: array<struct<name: string, image: string,
      containerID: string, restartCount: bigint, ready: boolean,
      state: struct<running: struct<startedAt: string>,
                    waiting: struct<reason: string>,
                    terminated: struct<reason: string>>>>>
>"""

_DEPLOY_SCHEMA = """struct<
  metadata: struct<name: string, namespace: string, uid: string>,
  spec: struct<replicas: bigint>,
  status: struct<availableReplicas: bigint>
>"""

_ENTRY = ("struct<metric:string,state:string,value:bigint,"
          "value_d:double,present:boolean>")


def _quantity_bytes(q: Column) -> Column:
    """resource.Quantity Value() for memory-style quantities."""
    num = F.regexp_extract(q, r"^([0-9.]+)", 1).try_cast("double")
    suffix = F.regexp_extract(q, r"([KMGTP]i|[kMGT])$", 1)
    mult = (
        F.when(suffix == "Ki", 1024.0)
        .when(suffix == "Mi", 1024.0 ** 2)
        .when(suffix == "Gi", 1024.0 ** 3)
        .when(suffix == "Ti", 1024.0 ** 4)
        .when(suffix == "Pi", 1024.0 ** 5)
        .when(suffix == "k", 1e3).when(suffix == "M", 1e6)
        .when(suffix == "G", 1e9).when(suffix == "T", 1e12)
        .otherwise(1.0)
    )
    return F.ceil(num * mult).cast("bigint")


def _quantity_cores(q: Column) -> Column:
    """float64(MilliValue())/1000 for cpu quantities."""
    num = F.regexp_extract(q, r"^([0-9.]+)", 1).try_cast("double")
    milli = F.when(q.endswith("m"), num).otherwise(num * 1000.0)
    return milli / 1000.0


def k8s_cluster_metrics(df: DataFrame) -> DataFrame:
    kind = F.col("kind")
    pod = F.from_json(F.col("body"), _POD_SCHEMA)
    dep = F.from_json(F.col("body"), _DEPLOY_SCHEMA)
    base = [c for c in df.columns if c not in ("kind", "body")]
    staged = df.select(*base, kind.alias("_kind"), pod.alias("_p"),
                       dep.alias("_d"))
    kind, pod, dep = F.col("_kind"), F.col("_p"), F.col("_d")

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    def mk(metric, state, vi, vd, present=None):
        return F.struct(
            F.lit(metric).alias("metric"),
            (F.lit(state) if state else ns).alias("state"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
            (present if present is not None else F.lit(True))
                .alias("present"),
        )

    ident = lambda name=ns, cid=ns, img=ns, tag=ns: [  # noqa: E731
        pod["metadata"]["uid"].alias("kc_pod_uid"),
        pod["metadata"]["name"].alias("kc_pod"),
        pod["metadata"]["namespace"].alias("kc_namespace"),
        pod["spec"]["nodeName"].alias("kc_node"),
        name.alias("kc_container"),
        cid.alias("kc_container_id"),
        img.alias("kc_image"), tag.alias("kc_image_tag"),
        ns.alias("kc_deployment"), ns.alias("kc_deployment_uid"),
    ]

    # --- pods ------------------------------------------------------------
    phase = F.coalesce(pod["status"]["phase"], F.lit(""))
    phase_i = (
        F.when(phase == "Pending", 1).when(phase == "Running", 2)
        .when(phase == "Succeeded", 3).when(phase == "Failed", 4)
        .otherwise(5)
    )
    reason = F.coalesce(pod["status"]["reason"], F.lit(""))
    reason_i = (
        F.when(reason == "Evicted", 1).when(reason == "NodeAffinity", 2)
        .when(reason == "NodeLost", 3).when(reason == "Shutdown", 4)
        .when(reason == "UnexpectedAdmissionError", 5).otherwise(6)
    )
    br_pod = staged.filter(kind == "pod").select(
        *base, *ident(),
        F.explode(F.array(
            mk("k8s.pod.phase", None, phase_i, nd),
            mk("k8s.pod.status_reason", None, reason_i, nd),
        )).alias("_m"),
    )

    # --- containers (spec ⋈ status by name) ------------------------------
    conts = staged.filter(kind == "pod").select(
        *base, "_p", F.explode(pod["spec"]["containers"]).alias("_c"),
    )
    c = F.col("_c")
    status = F.try_element_at(
        F.filter(
            F.coalesce(pod["status"]["containerStatuses"], F.array()),
            lambda cs: cs["name"] == c["name"],
        ),
        F.lit(1),
    )

    def res_entries(src, which: str) -> list:
        out = []
        for res_key, metric_mid, is_cpu in (
            ("cpu", "cpu", True), ("memory", "memory", False),
            ("storage", "storage", False),
            ("ephemeral-storage", "ephemeralstorage", False),
        ):
            q = F.try_element_at(src, F.lit(res_key))
            metric = f"k8s.container.{metric_mid}_{which}"
            if is_cpu:
                out.append(mk(metric, None, nl, _quantity_cores(q),
                              present=q.isNotNull()))
            else:
                out.append(mk(metric, None, _quantity_bytes(q), nd,
                              present=q.isNotNull()))
        return out

    # Go's switch picks the FIRST non-nil state in this order
    first_state = (
        F.when(status["state"]["running"].isNotNull(), "running")
        .when(status["state"]["terminated"].isNotNull(), "terminated")
        .when(status["state"]["waiting"].isNotNull(), "waiting")
    )
    running = first_state == "running"
    terminated = first_state == "terminated"
    waiting = first_state == "waiting"
    any_state = first_state.isNotNull()
    centries = (
        res_entries(c["resources"]["requests"], "request")
        + res_entries(c["resources"]["limits"], "limit")
        + [
            mk("k8s.container.restarts", None, status["restartCount"],
               nd, present=status.isNotNull()),
            mk("k8s.container.ready", None,
               F.when(F.coalesce(status["ready"], F.lit(False)), 1)
                .otherwise(0), nd, present=status.isNotNull()),
            mk("k8s.container.status.state", "running",
               F.when(running, 1).otherwise(0), nd,
               present=status.isNotNull() & any_state),
            mk("k8s.container.status.state", "waiting",
               F.when(waiting, 1).otherwise(0), nd,
               present=status.isNotNull() & any_state),
            mk("k8s.container.status.state", "terminated",
               F.when(terminated, 1).otherwise(0), nd,
               present=status.isNotNull() & any_state),
        ]
    )
    cid = F.regexp_replace(
        F.coalesce(status["containerID"], F.lit("")), "^[a-z-]+://", ""
    )
    img = F.coalesce(status["image"], F.lit(""))
    repo = F.when(img.contains(":"),
                  F.regexp_extract(img, r"^(.*):([^:]+)$", 1)
                  ).otherwise(img)
    # no matching status -> empty image -> ParseImageName errors and
    # leaves both attrs unset (containers.go:104-110)
    tag = (
        F.when(img == "", F.lit(""))
        .when(img.contains(":"),
              F.regexp_extract(img, r"^(.*):([^:]+)$", 2))
        .otherwise(F.lit("latest"))
    )
    br_cont = conts.select(
        *base, *ident(name=c["name"], cid=cid, img=repo, tag=tag),
        F.explode(F.filter(F.array(*centries),
                           lambda x: x["present"])).alias("_m"),
    )

    # --- deployments ------------------------------------------------------
    br_dep = staged.filter(kind == "deployment").select(
        *base,
        ns.alias("kc_pod_uid"), ns.alias("kc_pod"),
        dep["metadata"]["namespace"].alias("kc_namespace"),
        ns.alias("kc_node"), ns.alias("kc_container"),
        ns.alias("kc_container_id"), ns.alias("kc_image"),
        ns.alias("kc_image_tag"),
        dep["metadata"]["name"].alias("kc_deployment"),
        dep["metadata"]["uid"].alias("kc_deployment_uid"),
        F.explode(F.array(
            mk("k8s.deployment.desired", None,
               F.coalesce(dep["spec"]["replicas"], F.lit(0)), nd),
            mk("k8s.deployment.available", None,
               F.coalesce(dep["status"]["availableReplicas"], F.lit(0)),
               nd),
        )).alias("_m"),
    )

    out = None
    m = F.col("_m")
    out_cols = ("kc_pod_uid", "kc_pod", "kc_namespace", "kc_node",
                "kc_container", "kc_container_id", "kc_image",
                "kc_image_tag", "kc_deployment", "kc_deployment_uid")
    for br in (br_pod, br_cont, br_dep):
        sel = br.select(
            *base, *out_cols,
            m["metric"].alias("kc_metric"),
            m["state"].alias("kc_state"),
            m["value"].alias("kc_value"),
            m["value_d"].alias("kc_value_d"),
        )
        out = sel if out is None else out.unionByName(sel)
    return out


_WL_SCHEMA = """struct<
  metadata: struct<name: string, namespace: string, uid: string>,
  spec: struct<replicas: bigint, completions: bigint,
               parallelism: bigint, minReplicas: bigint,
               maxReplicas: bigint>,
  status: struct<readyReplicas: bigint, currentReplicas: bigint,
    updatedReplicas: bigint, availableReplicas: bigint,
    currentNumberScheduled: bigint, desiredNumberScheduled: bigint,
    numberMisscheduled: bigint, numberReady: bigint, phase: string,
    desiredReplicas: bigint, active: variant, failed: bigint,
    succeeded: bigint,
    conditions: array<struct<type: string, status: string>>>
>"""


def k8s_cluster_workloads(df: DataFrame) -> DataFrame:
    """Remaining k8scluster object kinds → metric rows.

    Re-expresses the node / statefulset / daemonset / replicaset /
    replicationcontroller / namespace / hpa / job / cronjob
    conversions (``internal/<kind>/*.go``):

    - node conditions: one ``k8s.node.condition`` row per condition
      with True=1 False=0 else −1 (nodes.go:54-58,131-135);
    - statefulset desired(*Spec.Replicas)/ready/current/updated pods;
    - daemonset current/desired scheduled, misscheduled, ready nodes;
    - replicaset + replication_controller desired/available — the
      desired pair emits only when ``Spec.Replicas`` is non-nil;
    - namespace phase: Active=1 Terminating=0 else −1;
    - hpa max/min(*pointer)/current/desired replicas;
    - job active/failed/successful pods always, desired_successful /
      max_parallel only when their spec pointers exist (jobs.go:16-25);
    - cronjob active_jobs = len(Status.Active) (cronjobs.go:22).
    """
    kind = F.col("kind")
    o = F.from_json(F.col("body"), _WL_SCHEMA)
    base = [c for c in df.columns if c not in ("kind", "body")]
    staged = df.select(*base, kind.alias("_kind"), o.alias("_o"))
    kind, o = F.col("_kind"), F.col("_o")

    ns = F.lit(None).cast("string")
    nd = F.lit(None).cast("double")

    def mk(metric, cond_attr, present, vi):
        return F.struct(
            F.lit(metric).alias("metric"),
            (cond_attr if cond_attr is not None else ns)
                .alias("condition"),
            present.alias("present"),
            vi.cast("bigint").alias("value"),
        )

    spec, st = o["spec"], o["status"]
    z = lambda c: F.coalesce(c, F.lit(0))  # noqa: E731
    entries = [
        mk("k8s.statefulset.desired_pods", None, kind == "statefulset",
           z(spec["replicas"])),
        mk("k8s.statefulset.ready_pods", None, kind == "statefulset",
           z(st["readyReplicas"])),
        mk("k8s.statefulset.current_pods", None, kind == "statefulset",
           z(st["currentReplicas"])),
        mk("k8s.statefulset.updated_pods", None, kind == "statefulset",
           z(st["updatedReplicas"])),
        mk("k8s.daemonset.current_scheduled_nodes", None,
           kind == "daemonset", z(st["currentNumberScheduled"])),
        mk("k8s.daemonset.desired_scheduled_nodes", None,
           kind == "daemonset", z(st["desiredNumberScheduled"])),
        mk("k8s.daemonset.misscheduled_nodes", None,
           kind == "daemonset", z(st["numberMisscheduled"])),
        mk("k8s.daemonset.ready_nodes", None, kind == "daemonset",
           z(st["numberReady"])),
        mk("k8s.replicaset.desired", None,
           (kind == "replicaset") & spec["replicas"].isNotNull(),
           spec["replicas"]),
        mk("k8s.replicaset.available", None,
           (kind == "replicaset") & spec["replicas"].isNotNull(),
           z(st["availableReplicas"])),
        mk("k8s.replication_controller.desired", None,
           (kind == "replicationcontroller")
           & spec["replicas"].isNotNull(), spec["replicas"]),
        mk("k8s.replication_controller.available", None,
           (kind == "replicationcontroller")
           & spec["replicas"].isNotNull(), z(st["availableReplicas"])),
        mk("k8s.namespace.phase", None, kind == "namespace",
           F.when(st["phase"] == "Active", 1)
           .when(st["phase"] == "Terminating", 0).otherwise(-1)),
        mk("k8s.hpa.max_replicas", None, kind == "hpa",
           z(spec["maxReplicas"])),
        mk("k8s.hpa.min_replicas", None, kind == "hpa",
           z(spec["minReplicas"])),
        mk("k8s.hpa.current_replicas", None, kind == "hpa",
           z(st["currentReplicas"])),
        mk("k8s.hpa.desired_replicas", None, kind == "hpa",
           z(st["desiredReplicas"])),
        mk("k8s.job.active_pods", None, kind == "job",
           F.coalesce(
               F.try_variant_get(st["active"], "$", "bigint"),
               F.lit(0))),
        mk("k8s.job.failed_pods", None, kind == "job", z(st["failed"])),
        mk("k8s.job.successful_pods", None, kind == "job",
           z(st["succeeded"])),
        mk("k8s.job.desired_successful_pods", None,
           (kind == "job") & spec["completions"].isNotNull(),
           spec["completions"]),
        mk("k8s.job.max_parallel_pods", None,
           (kind == "job") & spec["parallelism"].isNotNull(),
           spec["parallelism"]),
        mk("k8s.cronjob.active_jobs", None, kind == "cronjob",
           F.size(F.coalesce(
               F.from_json(F.to_json(st["active"]), "array<variant>"),
               F.array().cast("array<variant>")))),
    ]
    scalar = F.filter(F.array(*entries), lambda x: x["present"])

    cond_type = ("struct<metric:string,condition:string,"
                 "present:boolean,value:bigint>")
    conds = F.when(kind == "node", F.flatten(F.transform(
        F.coalesce(st["conditions"],
                   F.array().cast(
                       "array<struct<type:string,status:string>>")),
        lambda c: F.array(mk(
            "k8s.node.condition", c["type"], F.lit(True),
            F.when(c["status"] == "True", 1)
            .when(c["status"] == "False", 0).otherwise(-1),
        )),
    ))).otherwise(F.array().cast(f"array<{cond_type}>"))

    exploded = staged.select(
        *base,
        kind.alias("kind"),
        o["metadata"]["name"].alias("kc_name"),
        o["metadata"]["namespace"].alias("kc_namespace"),
        o["metadata"]["uid"].alias("kc_uid"),
        F.explode(F.concat(scalar, conds)).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[c for c in exploded.columns if c != "_m"],
        m["metric"].alias("kc_metric"),
        m["condition"].alias("kc_condition"),
        m["value"].alias("kc_value"),
    )
