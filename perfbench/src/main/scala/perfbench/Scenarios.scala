package perfbench

import graft.core.EstimationInput
import java.util.SplittableRandom

/** Seeded estimator inputs. Every input is a pure function of (seed, index),
  * so a sweep row can be rebuilt on any executor and a run is repeatable.
  *
  * The mix spans the JobManager key tiers (<= 1e7, <= 1e8, above), the
  * latency tiers of the memory and CPU factors, bare-metal nodes and the
  * three VM t-shirts, plus shapes the method must handle:
  *  - the reference's own scenario fixtures and the model defaults
  *    ([[Fixtures]], FIXTURES.md section 1.1), one row in 500;
  *  - invalid inputs (5 %), named `...-inv-<rule>` except the blank-name
  *    rule, whose name is the violation;
  *  - the VM-S placement-error shape (3 %): one S node whose JobManagers
  *    leave no room for a TaskManager, so sizing ends in a placement error;
  *  - a large-state tail (0.1 %): 1e8..5e8 keys, hundreds of TaskManagers.
  * The shares are assumptions, not measured traffic: the reference gives no
  * distribution of inputs. Each is picked so that its shape occurs about a
  * hundred times or more in a 10^5-row sweep while the regular mix keeps
  * most of the rows (perfbench/README.md).
  */
object Scenarios {
  private val Skews = Array("low", "medium", "high")
  private val Latencies = Array(0.25, 0.5, 0.75, 1.0, 2.0, 4.5, 5.0, 10.0, 30.0)
  private val RecordBytes = Array(64, 128, 256, 512, 1024, 4096, 16384)
  private val NodeGb = Array(8.0, 16.0, 32.0, 64.0, 128.0, 256.0)
  private val Tshirts = Array("S", "M", "L")
  val InvalidRules: Array[String] = Array(
    "mps", "bytes", "apps", "keys", "skew", "bandwidth", "latency", "statements",
    "memory", "cpu", "nodes", "type", "tsize", "vm-no-tsize", "blank-name")

  def rng(seed: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (i + 1) * 0xBF58476D1CE4E5B9L)

  private def logUniform(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.exp(math.log(lo) + r.nextDouble() * (math.log(hi) - math.log(lo)))

  /** Keyed state bytes (keys x stateful statements x apps x record bytes)
    * above which the regular mix drops its stateful statements: the
    * kernel's packing loop is O(TaskManagers x nodes), so unbounded state
    * would let a few rows dominate a sweep. The large-state tail goes past
    * it on purpose. */
  private val StateBudget = 2e10

  /** A valid input from the regular mix. */
  private def regular(r: SplittableRandom, name: String): EstimationInput = {
    val keys = r.nextInt(3) match {
      case 0 => logUniform(r, 1e3, 1e7).toLong
      case 1 => 10000001L + r.nextLong(90000000L)
      case _ => 100000001L + r.nextLong(400000000L)
    }
    val apps = 1 + r.nextInt(4)
    val stateful = r.nextInt(6) + r.nextInt(4)
    var b = r.nextInt(RecordBytes.length)
    def state = keys.toDouble * stateful * apps * RecordBytes(b)
    while (b > 0 && state > StateBudget) b -= 1
    val (medium, complex) = if (state > StateBudget) (0, 0) else (stateful / 2, stateful - stateful / 2)
    val vm = r.nextBoolean()
    EstimationInput(
      project_name = name,
      messages_per_second = logUniform(r, 100, 2e6).toInt,
      avg_record_size_bytes = RecordBytes(b),
      number_flink_applications = apps,
      num_distinct_keys = keys,
      data_skew_risk = Skews(r.nextInt(3)),
      bandwidth_capacity_gbps = 1 + r.nextInt(100),
      expected_latency_seconds = Latencies(r.nextInt(Latencies.length)),
      simple_statements = 1 + r.nextInt(10),
      medium_statements = medium,
      complex_statements = complex,
      worker_node_memory_mb = NodeGb(r.nextInt(NodeGb.length)) * 1024.0,
      worker_node_cpu_max = 2 + r.nextInt(63),
      nb_worker_nodes = 1 + r.nextInt(20),
      worker_node_type = if (vm) "VM" else "bare_metal",
      worker_node_t_size = if (vm) Some(Tshirts(r.nextInt(3))) else None)
  }

  /** A valid input from the regular mix, named `name`. */
  def valid(seed: Long, i: Long, name: String): EstimationInput = regular(rng(seed, i), name)

  /** Breaks exactly one validation rule of a valid input. */
  def invalidate(in: EstimationInput, rule: String): EstimationInput = rule match {
    case "mps" => in.copy(messages_per_second = 0)
    case "bytes" => in.copy(avg_record_size_bytes = 0)
    case "apps" => in.copy(number_flink_applications = 0)
    case "keys" => in.copy(num_distinct_keys = 0L)
    case "skew" => in.copy(data_skew_risk = "extreme")
    case "bandwidth" => in.copy(bandwidth_capacity_gbps = 0)
    case "latency" => in.copy(expected_latency_seconds = 0.0)
    case "statements" => in.copy(simple_statements = -1)
    case "memory" => in.copy(worker_node_type = "bare_metal", worker_node_t_size = None,
      worker_node_memory_mb = 600000.0)
    case "cpu" => in.copy(worker_node_type = "bare_metal", worker_node_t_size = None,
      worker_node_cpu_max = 1)
    case "nodes" => in.copy(nb_worker_nodes = 0)
    case "type" => in.copy(worker_node_type = "container", worker_node_t_size = None)
    case "tsize" => in.copy(worker_node_t_size = Some("XL"))
    case "vm-no-tsize" => in.copy(worker_node_type = "VM", worker_node_t_size = None)
    case "blank-name" => in.copy(project_name = "   ")
  }

  /** One sweep row in this many is a reference fixture, so each fixture
    * occurs about ten times in a 10^5-row sweep; at one in 50, F9 (about
    * 60 ms per sizing, thousands of times a regular row) took over a third
    * of its time. */
  val FixtureEvery = 500

  /** Sweep row `i`. */
  def sweep(seed: Long, i: Long): EstimationInput = {
    val r = rng(seed, i)
    val u = r.nextDouble()
    val name = f"sw-$i%08d"
    if (i % FixtureEvery == 0) {
      val (fx, in) = Fixtures.All((i / FixtureEvery % Fixtures.All.length).toInt)
      in.copy(project_name = s"$name-$fx")
    } else if (u < 0.05) {
      val rule = InvalidRules(r.nextInt(InvalidRules.length))
      invalidate(regular(r, s"$name-inv-$rule"), rule)
    } else if (u < 0.08) vmSmallPlacementError(r, name)
    else if (u < 0.081) largeState(r, name)
    else regular(r, name)
  }

  private def vmSmallPlacementError(r: SplittableRandom, name: String): EstimationInput =
    regular(r, name).copy(
      worker_node_type = "VM", worker_node_t_size = Some("S"), nb_worker_nodes = 1,
      number_flink_applications = 4, num_distinct_keys = 20000000L + r.nextLong(80000000L),
      avg_record_size_bytes = 4096, medium_statements = 2, complex_statements = 3)

  private def largeState(r: SplittableRandom, name: String): EstimationInput =
    regular(r, name).copy(
      worker_node_type = "bare_metal", worker_node_t_size = None,
      worker_node_memory_mb = 65536.0, nb_worker_nodes = 1 + r.nextInt(4),
      number_flink_applications = 1,
      num_distinct_keys = 100000000L + r.nextLong(400000000L),
      avg_record_size_bytes = 512,
      medium_statements = 1 + r.nextInt(2), complex_statements = 1 + r.nextInt(2))
}

/** The reference's representative scenarios (FIXTURES.md section 1.1,
  * from its pytest suite) and the model defaults, as fixed inputs. Where a
  * fixture is an A/B or a triplet, every variant is here. */
object Fixtures {
  private val Base = EstimationInput(project_name = "fixture")
  private val VmS = Base.copy(worker_node_type = "VM", worker_node_t_size = Some("S"))
  private val Simple = VmS.copy(messages_per_second = 10000, avg_record_size_bytes = 1024,
    num_distinct_keys = 10000000L, simple_statements = 1, medium_statements = 1,
    complex_statements = 1)
  private val ComplexOnly = Base.copy(simple_statements = 0, medium_statements = 0,
    complex_statements = 5)

  val All: IndexedSeq[(String, EstimationInput)] = IndexedSeq(
    "defaults" -> Base,
    "F1" -> VmS,
    "F2" -> VmS.copy(num_distinct_keys = 10000000L, simple_statements = 1,
      medium_statements = 0, complex_statements = 0),
    "F3" -> Simple,
    "F4" -> Simple.copy(worker_node_t_size = Some("M")),
    "F5" -> Base.copy(worker_node_memory_mb = 65536.0, worker_node_cpu_max = 8,
      expected_latency_seconds = 1.0, simple_statements = 3, medium_statements = 10,
      complex_statements = 10, bandwidth_capacity_gbps = 100),
    "F6" -> Base.copy(messages_per_second = 50000, avg_record_size_bytes = 2048,
      simple_statements = 5, medium_statements = 3, complex_statements = 2,
      number_flink_applications = 10),
    "F7a" -> ComplexOnly.copy(expected_latency_seconds = 1.0),
    "F7b" -> ComplexOnly.copy(expected_latency_seconds = 10.0),
    "F8" -> Base.copy(simple_statements = 0, medium_statements = 0, complex_statements = 0),
    "F9" -> Base.copy(messages_per_second = 10, avg_record_size_bytes = 10 * 1024 * 1024),
    "F10" -> Base.copy(messages_per_second = 1000000, avg_record_size_bytes = 10),
    "F11a" -> Base.copy(messages_per_second = 200000, expected_latency_seconds = 0.5),
    "F11b" -> Base.copy(messages_per_second = 200000, expected_latency_seconds = 10.0),
    "F11c" -> Base.copy(messages_per_second = 2000000, avg_record_size_bytes = 2048,
      expected_latency_seconds = 0.5),
    "F12low" -> Base.copy(data_skew_risk = "low"),
    "F12medium" -> Base.copy(data_skew_risk = "medium"),
    "F12high" -> Base.copy(data_skew_risk = "high"),
    "F13" -> Base.copy(messages_per_second = 100, nb_worker_nodes = 40))
}
