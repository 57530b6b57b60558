package graft.flow

import scala.collection.mutable
import graft.model.{EntityRef, Method}
import graft.model.Types._

/** The EventFlow machine: our re-expression of the reference's
  * resumable multi-entity state machine
  * (/root/reference/stateflow/dataflow/event_flow.py:239-367).
  *
  * Differences by design (SURVEY.md §3.3, §7):
  *  - Node structure lives in a STATIC template registry present on every
  *    JVM (like the reference's regenerated Python module); only
  *    (templateId, currentNode, env, self) travels inside the event —
  *    the reference ships the whole graph each hop and walks predecessors
  *    to recover inputs (event_flow.py:128-181); we ship one flat env.
  *  - Python AST splitting is replaced by an explicit Step DSL: the flow
  *    author writes blocks and hop points; the compiler wires successor
  *    ids exactly like MethodDescriptor.split_function
  *    (/root/reference/stateflow/descriptors/method_descriptor.py:42-104).
  *  - Nested split calls are inlined at compile time, mirroring
  *    ExecutionPlanMerger
  *    (/root/reference/stateflow/split/execution_plan_merging.py:24-252),
  *    via sub-environment wrapping instead of node re-identification.
  */
object FlowModel {

  /** Where a node executes (the routing key). `SelfE` = the flow's own
    * entity; `Other` resolves a ref out of the env (params, loop vars).
    */
  sealed trait OwnerSel extends Serializable
  case object SelfE extends OwnerSel
  final case class Other(f: Env => EntityRef) extends OwnerSel

  /** Compiled node ADT. Exec subsumes the reference's RequestState,
    * InvokeSplitFun and InvokeExternal (event_flow.py:440-1159): each is
    * "run this function against the owner's state" with a different
    * owner and function.
    */
  sealed trait Node { def id: Int }
  final case class Start(id: Int, next: Int) extends Node
  final case class Exec(id: Int, owner: OwnerSel,
      fn: (State, Env) => (State, Env), next: Int) extends Node
  final case class Branch(id: Int, owner: OwnerSel,
      pred: (State, Env) => Boolean, ifTrue: Int, ifFalse: Int) extends Node
  /** For-loop driver (InvokeFor analog, event_flow.py:931-1100): the
    * hidden iterator index lives in the env under `_it<id>`; `write`
    * binds the loop variable (possibly into an inlined sub-env).
    */
  final case class Loop(id: Int, coll: Env => Seq[Any],
      write: (Env, Any) => Env, body: Int, exit: Int) extends Node
  final case class Ret(id: Int, owner: OwnerSel,
      value: (State, Env) => Any) extends Node

  final case class FlowTemplate(id: String, params: Seq[String],
      nodes: Map[Int, Node], entry: Int)
}
import FlowModel._

/** The serializable, travelling part of a flow: which template, where we
  * are, the variable environment, and whose method this is. Carried in
  * the event payload across hops (event_flow.py:298-346 analog).
  */
final case class FlowState(
    templateId: String,
    current: Int,
    env: Env,
    self: EntityRef) extends Serializable

/** Author-facing steps (pre-compilation IR — the analog of the
  * reference's StatementBlock graph, split_analyze.py:105-857, but
  * hand-declared instead of AST-derived).
  */
sealed trait Step
object Step {
  /** Run a block against the owner's state. */
  final case class ExecS(owner: OwnerSel, fn: (State, Env) => (State, Env)) extends Step
  /** Snapshot another entity's full state into the env — RequestState
    * (event_flow.py:1103-1159). Must be re-issued after any mutating call
    * to that entity (snapshot invalidation, split_analyze.py:666-781).
    */
  final case class SnapshotS(ref: Env => EntityRef, write: (Env, State) => Env) extends Step
  /** Invoke a non-split method on another entity — InvokeExternal
    * (event_flow.py:440-536).
    */
  final case class InvokeS(ref: Env => EntityRef, method: Method,
      args: Env => Args, write: (Env, Any) => Env) extends Step
  final case class BranchS(owner: OwnerSel, pred: (State, Env) => Boolean,
      ifTrue: Seq[Step], ifFalse: Seq[Step]) extends Step
  final case class LoopS(coll: Env => Seq[Any], write: (Env, Any) => Env,
      body: Seq[Step]) extends Step
  final case class RetS(owner: OwnerSel, value: (State, Env) => Any) extends Step
  /** Call another split method and bind its result — inlined at compile
    * time (ExecutionPlanMerger analog).
    */
  final case class CallFlowS(ref: Env => EntityRef, calleeId: String,
      args: Env => Args, write: (Env, Any) => Env) extends Step

  // ---- sugar used by entity definitions -------------------------------
  def refVar(v: String): Env => EntityRef = env => env(v).asInstanceOf[EntityRef]
  def snapshot(v: String, as: String): Step =
    SnapshotS(refVar(v), (env, st) => env + (as -> st))
  def invoke(v: String, m: Method, args: Env => Args, resultVar: String): Step =
    InvokeS(refVar(v), m, args, (env, r) => env + (resultVar -> r))
  def invokeF(ref: Env => EntityRef, m: Method, args: Env => Args, resultVar: String): Step =
    InvokeS(ref, m, args, (env, r) => env + (resultVar -> r))
  def exec(fn: (State, Env) => (State, Env)): Step = ExecS(SelfE, fn)
  def setVars(fn: Env => Env): Step = ExecS(SelfE, (st, env) => (st, fn(env)))
  def branch(pred: (State, Env) => Boolean)(ifTrue: Step*)(ifFalse: Step*): Step =
    BranchS(SelfE, pred, ifTrue, ifFalse)
  def loop(collVar: String, itemVar: String)(body: Step*): Step =
    LoopS(env => env(collVar).asInstanceOf[Seq[Any]],
      (env, v) => env + (itemVar -> v), body)
  def ret(value: (State, Env) => Any): Step = RetS(SelfE, value)
  def retEnv(v: String): Step = RetS(SelfE, (_, env) => env(v))
  def retConst(c: Any): Step = RetS(SelfE, (_, _) => c)
  def callFlow(v: String, calleeId: String, args: Env => Args, resultVar: String): Step =
    CallFlowS(refVar(v), calleeId, args, (env, r) => env + (resultVar -> r))
}

/** A declared flow (split method) in source form. */
final case class FlowDef(id: String, params: Seq[String], steps: Seq[Step])

/** Static flow registry + compiler. Callees must be registered before
  * callers (inlining resolves at registration, like import order in the
  * reference).
  */
object FlowRegistry {
  private val defs = mutable.Map[String, FlowDef]()
  private val compiled = mutable.Map[String, FlowModel.FlowTemplate]()

  def register(d: FlowDef): Unit = synchronized {
    defs(d.id) = d
    compiled(d.id) = FlowCompiler.compile(d)
  }
  def has(id: String): Boolean = synchronized(compiled.contains(id))
  def template(id: String): FlowModel.FlowTemplate = synchronized(compiled(id))
  def definition(id: String): FlowDef = synchronized(defs(id))

  /** Build a ready-to-run FlowState for a call (the analog of
    * construct_and_assign_arguments, event_flow.py:298-337).
    */
  def instantiate(id: String, self: EntityRef, args: Args): FlowState = {
    val t = template(id)
    FlowState(id, t.entry, args, self)
  }
}

object FlowCompiler {
  import Step._

  def compile(d: FlowDef): FlowModel.FlowTemplate = {
    val nodes = mutable.Map[Int, Node]()
    var counter = 0
    def fresh(): Int = { counter += 1; counter }

    /** Compile a step list; `next` = node to continue to after the list;
      * `onRet` turns a RetS into a node id (terminal at top level,
      * write-and-jump when inlined).
      */
    def seq(steps: List[Step], next: Int, onRet: RetS => Int): Int = steps match {
      case Nil => next
      case s :: rest =>
        val cont = seq(rest, next, onRet)
        one(s, cont, onRet)
    }

    def one(s: Step, cont: Int, onRet: RetS => Int): Int = s match {
      case ExecS(owner, fn) =>
        val i = fresh(); nodes(i) = Exec(i, owner, fn, cont); i
      case SnapshotS(ref, write) =>
        val i = fresh()
        nodes(i) = Exec(i, Other(ref), (st, env) => (st, write(env, st)), cont); i
      case InvokeS(ref, m, args, write) =>
        val i = fresh()
        nodes(i) = Exec(i, Other(ref), (st, env) => {
          val (st2, r) = m.fn(st, args(env))
          (st2, write(env, r))
        }, cont); i
      case BranchS(owner, pred, t, f) =>
        val i = fresh()
        nodes(i) = Branch(i, owner, pred,
          seq(t.toList, cont, onRet), seq(f.toList, cont, onRet)); i
      case LoopS(coll, write, body) =>
        val i = fresh()
        val bodyEntry = seq(body.toList, i, onRet) // body loops back
        nodes(i) = Loop(i, coll, write, bodyEntry, cont); i
      case r: RetS => onRet(r)
      case CallFlowS(ref, calleeId, args, write) =>
        // ------- inline the callee under a private sub-environment -----
        val callee = FlowRegistry.definition(calleeId)
        val subKey = s"_sub${fresh()}"
        def sub(env: Env): Env = env(subKey).asInstanceOf[Env]
        def wrapOwner(o: OwnerSel): OwnerSel = o match {
          case SelfE => Other(env => ref(env)) // callee's self = called ref
          case Other(f) => Other(env => f(sub(env)))
        }
        def wrapSteps(steps: Seq[Step]): Seq[Step] = steps.map {
          case ExecS(o, fn) => ExecS(wrapOwner(o), (st, env) => {
            val (st2, s2) = fn(st, sub(env))
            (st2, env + (subKey -> s2))
          })
          case SnapshotS(r, w) =>
            SnapshotS(env => r(sub(env)),
              (env, snap) => env + (subKey -> w(sub(env), snap)))
          case InvokeS(r, m, a, w) =>
            InvokeS(env => r(sub(env)), m, env => a(sub(env)),
              (env, res) => env + (subKey -> w(sub(env), res)))
          case BranchS(o, pred, t, f) =>
            BranchS(wrapOwner(o), (st, env) => pred(st, sub(env)),
              wrapSteps(t), wrapSteps(f))
          case LoopS(coll, w, body) =>
            LoopS(env => coll(sub(env)),
              (env, v) => env + (subKey -> w(sub(env), v)), wrapSteps(body))
          case RetS(o, v) => RetS(wrapOwner(o), (st, env) => v(st, sub(env)))
          case CallFlowS(r, cid, a, w) =>
            CallFlowS(env => r(sub(env)), cid, env => a(sub(env)),
              (env, res) => env + (subKey -> w(sub(env), res)))
        }
        // callee RetS -> write result into the PARENT env + jump past inline
        def calleeRet(r: RetS): Int = {
          val i = fresh()
          nodes(i) = Exec(i, r.owner,
            (st, env) => (st, write(env, r.value(st, env))), cont)
          i
        }
        // callee falls off the end -> result null (Python `return None`)
        val fallOff = {
          val i = fresh()
          nodes(i) = Exec(i, SelfE, (st, env) => (st, write(env, null)), cont)
          i
        }
        val bodyEntry = seq(wrapSteps(callee.steps).toList, fallOff, calleeRet)
        // entry: bind callee args into the sub-env
        val bind = fresh()
        nodes(bind) = Exec(bind, SelfE,
          (st, env) => (st, env + (subKey -> args(env))), bodyEntry)
        bind
    }

    // flow falls off the end -> reply null (test_no_return semantics)
    val implicitRet = { val i = fresh(); nodes(i) = Ret(i, SelfE, (_, _) => null); i }
    val entryBody = seq(d.steps.toList, implicitRet, r => {
      val i = fresh(); nodes(i) = Ret(i, r.owner, r.value); i
    })
    val s0 = fresh()
    nodes(s0) = Start(s0, entryBody)
    FlowModel.FlowTemplate(d.id, d.params, nodes.toMap, s0)
  }
}
