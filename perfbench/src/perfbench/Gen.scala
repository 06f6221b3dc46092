package perfbench

import graft.k8s.{EventSource, KubeEvent, KubeNode, KubeObject, KubePod, ObjectRef}
import java.sql.Timestamp
import java.time.Instant
import java.util.SplittableRandom

final case class Pod(uid: String, name: String, ns: String, app: String,
    tier: String, node: Int, ip: String, known: Boolean)
final case class App(name: String, ns: String, tier: String,
    pods: IndexedSeq[Pod], rsUid: String)

/** Seeded synthetic cluster shared by both live workloads: ~5k pods of
  * 500 apps (1-20 pods each) on 50 nodes. Apps 475-499 live in
  * kube-system, a namespace the pipeline skips. About one app in ten
  * also has a same-labelled decoy pod in another namespace, which a
  * namespace-scoped selector must not match.
  */
final class Cluster(seed: Long) {
  private val rng = new SplittableRandom(seed)
  def uuid(r: SplittableRandom): String = {
    def hex(v: Long, digits: Int): String = {
      val s = java.lang.Long.toHexString(v & ((1L << (4 * digits)) - 1))
      "0" * (digits - s.length) + s
    }
    val a = r.nextLong(); val b = r.nextLong()
    s"${hex(a >>> 32, 8)}-${hex(a >>> 16, 4)}-${hex(a, 4)}-${hex(b >>> 48, 4)}-${hex(b, 12)}"
  }

  val nNodes = 50
  /** Nodes 45-49 are missing from the node dimension (E2 misses). */
  val nodeRows: Seq[KubeNode] = (0 until 45).map(i =>
    KubeNode(f"node-$i%02d", Seq(s"10.0.${i / 250}.${i % 250 + 1}", f"node-$i%02d.internal")))

  private val tiers = Array("web", "api", "worker", "cache", "db")
  val apps: IndexedSeq[App] = (0 until 500).map { a =>
    val ns = if (a >= 475) "kube-system" else s"team-${a % 10}"
    val tier = tiers(rng.nextInt(tiers.length))
    val name = f"app-$a%03d"
    val n = 1 + rng.nextInt(20)
    val pods = (0 until n).map { k =>
      Pod(uuid(rng), f"$name-$k%02d", ns, name, tier, rng.nextInt(nNodes),
        s"172.16.${a % 250}.${k + 1}", known = rng.nextInt(10) != 0)
    }
    App(name, ns, tier, pods, uuid(rng))
  }
  /** Decoys: same app label, other namespace. */
  val decoys: IndexedSeq[Pod] = apps.indices.filter(_ => rng.nextInt(10) == 0).map { a =>
    val app = apps(a)
    Pod(uuid(rng), s"${app.name}-decoy", s"team-${(a + 1) % 10}", app.name, app.tier,
      rng.nextInt(nNodes), s"172.31.0.${rng.nextInt(250) + 1}", known = true)
  }
  val allPods: IndexedSeq[Pod] = apps.flatMap(_.pods) ++ decoys
  val userPods: IndexedSeq[Pod] = allPods.filter(_.ns != "kube-system")
  val systemPods: IndexedSeq[Pod] = allPods.filter(_.ns == "kube-system")

  def node(i: Int): String = f"node-$i%02d"
  def labels(p: Pod): Map[String, String] =
    Map("app" -> p.app, "tier" -> p.tier, "pod-template-hash" -> p.uid.take(8))

  /** Object dimension: 90% of pods plus every app's ReplicaSet. */
  val objectRows: Seq[KubeObject] =
    allPods.filter(_.known).map { p =>
      KubeObject(p.uid, "Pod", p.ns, p.name, labels(p),
        Map("owner" -> s"${p.app}-rs"),
        s"""{"uid":"${p.uid}","name":"${p.name}","namespace":"${p.ns}",""" +
          s""""start_time":"2024-01-01T09:00:00","ip":"${p.ip}",""" +
          s""""host_ip":"10.0.0.${p.node + 1}"}""")
    } ++ apps.map(a => KubeObject(a.rsUid, "ReplicaSet", a.ns, s"${a.name}-rs",
      Map("app" -> a.name), Map.empty, null))

  val podRows: Seq[KubePod] = allPods.map(p => KubePod(p.uid, p.name, p.ns,
    labels(p), Timestamp.valueOf("2024-01-01 09:00:00"), p.ip,
    s"10.0.0.${p.node + 1}"))
}

/** Zipf(s) sampler over 0 until n by inverse-CDF lookup. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** A generated watch stream: lines in publish order, plus what the
  * pipeline must land for them. */
trait GenStream {
  def lines: IndexedSeq[Line]
  /** Record id → first rv that carries it, for records that must land. */
  def expectedFirstRv: collection.Map[String, Long]
  /** Lines published before the stream starts (LIST seed). */
  def preloaded: Int
}

/** Event watch stream for live_events. Mix: 5% kube-system (filtered),
  * ~10% re-deliveries of a recent uid (count+1, lastTimestamp+1 s), 1%
  * out-of-order by up to 20 s of event time, Zipf(1.1) over pods (10% of
  * pods unknown to the object dimension) and 15% ReplicaSet events with
  * no host. Event time advances 10 ms per line, so with a 60 s dedup
  * horizon the dedup state levels off at a few thousand keys.
  */
final class EventGen(c: Cluster, seed: Long, n: Int, rvBase: Long,
    tsBaseMs: Long, tag: String) extends GenStream {
  private val r = new SplittableRandom(seed)
  private val podOrder = {
    val a = c.userPods.toArray
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }
  private val zipf = new Zipf(podOrder.length, 1.1)
  private val podReasons = Array("Scheduled", "Pulling", "Pulled", "Created", "Started", "Killing", "BackOff", "Unhealthy")
  private val rsReasons = Array("SuccessfulCreate", "SuccessfulDelete")

  val events = new Array[KubeEvent](n)
  val lines: IndexedSeq[Line] = {
    val out = new Array[Line](n)
    val originals = new Array[Int](n)
    var nOrig = 0
    for (i <- 0 until n) {
      val rv = rvBase + i + 1
      val redeliver = nOrig > 0 && r.nextInt(10) == 0
      val ev =
        if (redeliver) {
          val lo = math.max(0, nOrig - 2000)
          val o = events(originals(lo + r.nextInt(nOrig - lo)))
          o.copy(count = o.count.map(_ + 1),
            creationTimestamp = new Timestamp(o.creationTimestamp.getTime + 1000))
        } else {
          originals(nOrig) = i; nOrig += 1
          var ts = tsBaseMs + i * 10L
          if (r.nextInt(100) == 0) ts -= 1000L + r.nextInt(19000)
          val uid = c.uuid(r)
          if (r.nextInt(20) == 0) {
            val p = c.systemPods(r.nextInt(c.systemPods.length))
            podEvent(uid, i, ts, p)
          } else if (r.nextInt(100) < 15) {
            val a = c.apps(r.nextInt(475))
            val reason = rsReasons(r.nextInt(rsReasons.length))
            KubeEvent(uid, new Timestamp(ts), s"${a.name}-rs.$tag$i", a.ns, reason,
              s"Created pod: ${a.pods(r.nextInt(a.pods.length)).name}", "Normal",
              Some(1), ObjectRef("apps/v1", "ReplicaSet", s"${a.name}-rs", a.ns,
                (1000 + i).toString, a.rsUid),
              EventSource("replicaset-controller", ""))
          } else podEvent(uid, i, ts, podOrder(zipf.sample(r)))
        }
      events(i) = ev
      out(i) = Line(rv, "ADDED", json(rv, ev), inList = true)
    }
    out.toIndexedSeq
  }

  private def podEvent(uid: String, i: Int, ts: Long, p: Pod): KubeEvent = {
    val reason = podReasons(r.nextInt(podReasons.length))
    KubeEvent(uid, new Timestamp(ts), s"${p.name}.$tag$i", p.ns, reason,
      s"$reason container app of pod ${p.ns}/${p.name} on ${c.node(p.node)}",
      if (reason == "BackOff" || reason == "Unhealthy") "Warning" else "Normal",
      Some(1), ObjectRef("v1", "Pod", p.name, p.ns, (2000 + i).toString, p.uid),
      EventSource("kubelet", c.node(p.node)))
  }

  private def json(rv: Long, e: KubeEvent): String = {
    val ts = Instant.ofEpochMilli(e.creationTimestamp.getTime).toString
    val o = e.involvedObject
    s"""{"metadata":{"uid":"${e.uid}","resourceVersion":"$rv","name":"${e.name}",""" +
      s""""namespace":"${e.namespace}","creationTimestamp":"$ts"},""" +
      s""""involvedObject":{"apiVersion":"${o.apiVersion}","kind":"${o.kind}",""" +
      s""""name":"${o.name}","namespace":"${o.namespace}","resourceVersion":"${o.resourceVersion}",""" +
      s""""uid":"${o.uid}","fieldPath":"spec.containers{app}"},""" +
      s""""reason":"${e.reason}","message":"${e.message}","type":"${e.eventType}",""" +
      s""""count":${e.count.getOrElse(1)},"firstTimestamp":"$ts","lastTimestamp":"$ts",""" +
      s""""source":{"component":"${e.source.component}","host":"${e.source.host}"},""" +
      s""""reportingComponent":"${e.source.component}"}"""
  }

  val preloaded = 0
  val expectedFirstRv: collection.Map[String, Long] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    for (i <- 0 until n) {
      val e = events(i)
      if (!graft.k8s.EventPipeline.SkipNamespaces.contains(e.namespace) &&
          !m.contains(e.uid)) m(e.uid) = lines(i).rv
    }
    m
  }
}

final case class Svc(uid: String, app: App, twoKey: Boolean)

/** Service watch stream for live_services: the LIST seeds all 500
  * services (one per app); the watch then carries MODIFIED updates to
  * that fixed key set, 5% stale re-deliveries of an earlier line, and 1%
  * DELETED lines whose service is re-ADDED 50 lines later. Selectors are
  * {app} or (30%) {app, tier}; each matches its app's 1-20 pods.
  */
final class ServiceGen(c: Cluster, seed: Long, n: Int, rvBase: Long)
    extends GenStream {
  private val r = new SplittableRandom(seed)
  val services: IndexedSeq[Svc] = c.apps.map(a => Svc(c.uuid(r), a, r.nextInt(10) < 3))
  /** Record id → (reason, matched pods). */
  val expectedRecord = scala.collection.mutable.HashMap.empty[String, (String, Int)]

  private def json(s: Svc, rv: Long, rev: Int): String = {
    val sel = if (s.twoKey) s""""app":"${s.app.name}","tier":"${s.app.tier}""""
              else s""""app":"${s.app.name}""""
    s"""{"metadata":{"uid":"${s.uid}","resourceVersion":"$rv","name":"svc-${s.app.name}",""" +
      s""""namespace":"${s.app.ns}","labels":{"app":"${s.app.name}"},""" +
      s""""annotations":{"rev":"$rev"}},"spec":{"selector":{$sel}}}"""
  }

  val preloaded: Int = services.length
  val lines: IndexedSeq[Line] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Line]
    val rev = new Array[Int](services.length)
    val deleted = new Array[Boolean](services.length)
    val readdAt = scala.collection.mutable.Queue.empty[(Int, Int)]
    var rv = rvBase
    def emit(i: Int, kind: String, tag: String): Unit = {
      rv += 1; rev(i) += 1
      val s = services(i)
      out += Line(rv, kind, json(s, rv, rev(i)), inList = kind != "DELETED")
      if (s.app.ns != "kube-system")
        expectedRecord(s"${s.uid}-$rv") = (tag, s.app.pods.length)
    }
    services.indices.foreach(i => emit(i, "ADDED", "addedService"))
    while (out.length < preloaded + n) {
      val k = out.length - preloaded
      if (readdAt.nonEmpty && readdAt.head._2 <= k) {
        val (i, _) = readdAt.dequeue(); deleted(i) = false
        emit(i, "ADDED", "addedService")
      } else if (r.nextInt(20) == 0 && out.length > preloaded) {
        val old = out(preloaded + r.nextInt(out.length - preloaded))
        out += old.copy(inList = false) // stale re-delivery: an old rv again
      } else {
        val i = r.nextInt(services.length)
        if (!deleted(i)) {
          if (r.nextInt(100) == 0) {
            deleted(i) = true; readdAt.enqueue(i -> (k + 50))
            emit(i, "DELETED", "deletedService")
          } else emit(i, "MODIFIED", "updatedService")
        }
      }
    }
    out.toIndexedSeq
  }

  val expectedFirstRv: collection.Map[String, Long] =
    expectedRecord.keys.map(id => id -> id.substring(id.lastIndexOf('-') + 1).toLong).toMap
}
