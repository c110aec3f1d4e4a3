package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.api.StreamContext
import org.apache.spark.sql.SparkSession

/** Session of the harness mains (Bench, Verify, Soak, PlanDump, LintAudit):
  * [[StreamContext.sessionConf]] plus the env overrides, all read here.
  * Bench and Soak measure each cell with [[Layers.measure]].
  *
  *   - `SPARK_GRAFT_CPUS`: cores of `local[n]` and shuffle partitions;
  *   - `GRAFT_MASTER`: master URL, e.g. `local-cluster[2,4,2048]` — separate
  *     executor JVMs, so closure / Encoder / broadcast serialization really
  *     crosses a process boundary;
  *   - `GRAFT_JARS`: `spark.jars`, ships the packaged library to them;
  *   - `GRAFT_STATE_STORE=rocksdb`: streaming state on the RocksDB provider
  *     (the one for state that outgrows the executor heap);
  *   - `GRAFT_CONF="k=v;k2=v2"`: extra session conf for same-window config
  *     A/Bs, applied last. */
object Harness {
  def session(
      defaultCores: Int = math.max(4, Runtime.getRuntime.availableProcessors())): SparkSession = {
    val env = sys.env
    val spark = StreamContext.session(master(env, defaultCores), conf(env, defaultCores))
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** `GRAFT_ONLY=q_a,q_b` restricts Verify and Bench to a subset
    * of catalog keys (Bench's `<name>_portable` keys included) — an
    * iteration aid; unset runs everything. */
  val only: Option[Set[String]] =
    sys.env.get("GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  def selected(name: String): Boolean = only.forall(_.contains(name))

  /** The harness artifacts' Jackson mapper: Scala case classes and
    * collections, snake_case keys, and untyped integers read back as longs
    * (so a `Map[String, Long]` survives erasure). */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(DeserializationFeature.USE_LONG_FOR_INTS)
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES).build()

  /** `s` as a JSON string literal: quotes, backslashes and every control
    * character escaped, so free-form SQL or paths never break a reader. */
  def jsonString(s: String): String = json.writeValueAsString(s)

  def cores(env: Map[String, String], default: Int): Int =
    env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  def master(env: Map[String, String], defaultCores: Int): String =
    env.getOrElse("GRAFT_MASTER", s"local[${cores(env, defaultCores)}]")

  def conf(env: Map[String, String], defaultCores: Int): Seq[(String, String)] =
    StreamContext.sessionConf(cores(env, defaultCores)) ++
      env.get("GRAFT_STATE_STORE").filter(_ == "rocksdb").map(_ =>
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") ++
      env.get("GRAFT_JARS").map("spark.jars" -> _) ++
      parseGraftConf(env.get("GRAFT_CONF"))

  /** GRAFT_CONF="k=v;k2=v2" → pairs; malformed tokens (no '=') are warned
    * about LOUDLY instead of silently dropped — a typo'd A/B lever would
    * otherwise measure the default config while the operator believes the
    * candidate applied. */
  def parseGraftConf(env: Option[String]): Seq[(String, String)] =
    env.map(_.split(";").toSeq).getOrElse(Nil).filter(_.trim.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Some((k.trim, v.trim))
        case _ =>
          System.err.println(
            s"[graft] WARNING: GRAFT_CONF token '$kv' is not k=v — IGNORED " +
              "(the A/B would silently measure the default config)")
          None
      }
    }
}
