package graft.api

import graft.SparkSpec
import graft.api.QueryBuilder._

/** GraphQL front-end laws: a query parses to EXACTLY the `Request` the
  * DSL builds (so all three front ends — DSL, JSON wire, GraphQL text —
  * compile one plan), the reference README's own example shapes parse,
  * parse errors are `Left` values with positions, and the canned q100
  * runs row-identically to its DSL twin q98. */
class GraphQlSpec extends SparkSpec {

  private def parsed(q: String): Request =
    GraphQl.parse(q) match {
      case Right(r) => r
      case Left(m) => fail(s"did not parse: $m\n$q")
    }

  private def err(q: String): String =
    GraphQl.parse(q) match {
      case Left(m) => m
      case Right(r) => fail(s"accepted bad query as $r")
    }

  test("the reference README's simple nested query parses (users{nfts}" +
    " shape on the fixture schema)") {
    val r = parsed("""
      {
        customer {
          orders { k: o_orderkey }
          c_custkey
        }
      }""")
    assert(r === Request(
      table = "customer",
      fields = Seq("c_custkey"),
      nested = Seq(Nested(
        as = "orders", table = "orders",
        childKey = "o_custkey", parentKey = "c_custkey",
        fields = Seq(NestedField("k", "o_orderkey"))))))
  }

  test("the reference README's _or example parses — OBJECT-form " +
    "operands, _gte and _eq (README.md:125-133)") {
    val r = parsed("""
      {
        customer(where: {_or: {c_custkey: {_gte: 1},
                               c_name: {_eq: "Customer#000000002"}}}) {
          orders { k: o_orderkey }
          c_custkey
          c_name
        }
      }""")
    assert(r.where === Some(Or(
      Gte("c_custkey", 1L), Eq("c_name", "Customer#000000002"))))
    assert(r.fields === Seq("c_custkey", "c_name"))
  }

  test("q100's GraphQL text parses to EXACTLY the q98 DSL request " +
    "(args, aliases, @fmt directive, multi-key order_by)") {
    assert(parsed(GraphQl.q100Query) === Request(
      table = "customer",
      fields = Seq("c_custkey"),
      where = Some(Lte("c_custkey", 50L)),
      orderBy = Seq(Order("c_custkey")),
      nested = Seq(Nested(
        as = "orders", table = "orders",
        childKey = "o_custkey", parentKey = "c_custkey",
        fields = Seq(
          NestedField("k", "o_orderkey"),
          NestedField("p", "o_totalprice", format = Some((2, "%.2f")))),
        where = Some(Eq("o_orderstatus", "O")),
        orderBy = Seq(Order("o_totalprice", desc = true),
          Order("o_orderkey")),
        limit = Some(3)))))
  }

  test("q100 runs row-identically to the DSL twin q98") {
    val dir = sf("sf0.001")
    val gql = GraphQl.q100QbGraphql(spark, dir).collect().toSeq
    val dsl = QueryBuilder.q98QbChildArgs(spark, dir).collect().toSeq
    assert(gql.nonEmpty && gql === dsl)
  }

  test("deep nesting + @cast + @join(left) + comments + block strings") {
    val r = parsed("""
      query Deep { # q49's three-level shape
        customer(where: {c_name: {_like: \"\"\"%5%\"\"\"}},
                 limit: 10, offset: 2) {
          c_custkey
          orders {
            k: o_orderkey
            items @join(type: "left") {
              q: l_quantity @cast(to: "long")
            }
          }
        }
      }""".replace("\\\"", "\""))
    assert(r.offset === 2 && r.limit === Some(10))
    assert(r.where === Some(Like("c_name", "%5%")))
    val sub = r.nested.head.subs.head
    assert(sub.joinType === "left")
    assert(sub.fields === Seq(
      NestedField("q", "l_quantity", cast = Some("long"))))
  }

  test("aggregate relationships: *_aggregate with count/sum/min/max/avg" +
    ", args, and aliases") {
    val r = parsed("""
      {
        customer(order_by: {c_custkey: asc}) {
          c_custkey
          orders_aggregate(where: {o_totalprice: {_gt: 0.5}},
                           order_by: [{o_totalprice: desc},
                                      {o_orderkey: asc}],
                           limit: 2) {
            aggregate {
              n: count
              sum { o_totalprice }
              lo: min { o_totalprice }
              avg { o_totalprice }
            }
          }
        }
      }""")
    assert(r.aggRels === Seq(AggRel(
      table = "orders", childKey = "o_custkey", parentKey = "c_custkey",
      aggs = Seq(CountOf("o_custkey", "n"),
        SumOf("o_totalprice", "sum_o_totalprice"),
        MinOf("o_totalprice", "lo"),
        AvgOf("o_totalprice", "avg_o_totalprice")),
      where = Some(Gt("o_totalprice", 0.5)),
      orderBy = Seq(Order("o_totalprice", desc = true),
        Order("o_orderkey")),
      limit = Some(2))))
  }

  test("aggregate relationships: the statistical family (stddev/" +
    "variance, samp/pop) — bare spellings are the sample variants") {
    val r = parsed("""
      {
        customer(order_by: {c_custkey: asc}) {
          c_custkey
          orders_aggregate {
            aggregate {
              stddev { o_totalprice }
              sdp: stddev_pop { o_totalprice }
              s2: stddev_samp { o_totalprice }
              variance { o_totalprice }
              vs: var_samp { o_totalprice }
              var_pop { o_totalprice }
            }
          }
        }
      }""")
    assert(r.aggRels === Seq(AggRel(
      table = "orders", childKey = "o_custkey", parentKey = "c_custkey",
      aggs = Seq(
        StddevOf("o_totalprice", "stddev_o_totalprice"),
        StddevOf("o_totalprice", "sdp", pop = true),
        StddevOf("o_totalprice", "s2"),
        VarianceOf("o_totalprice", "variance_o_totalprice"),
        VarianceOf("o_totalprice", "vs"),
        VarianceOf("o_totalprice", "var_pop_o_totalprice", pop = true)))))
  }

  test("where-tree spellings: implicit AND, array-form _and, _in/_neq" +
    "/_not, boolean and negative literals") {
    val r = parsed("""
      {
        customer(where: {
          _and: [{c_acctbal: {_gt: -100.5}},
                 {_not: {c_mktsegment: {_in: ["MACHINERY", "BUILDING"]}}}]
          c_custkey: {_neq: 7}
        }) { c_custkey }
      }""")
    assert(r.where === Some(And(
      And(Gt("c_acctbal", -100.5),
        Not(In("c_mktsegment", Seq("MACHINERY", "BUILDING")))),
      Neq("c_custkey", 7L))))
  }

  test("the rest of Hasura's comparison surface: _is_null/_nin/_ilike" +
    "/_nlike parse and reject bad operand types") {
    val r = parsed("""
      { documents(where: {
          text: {_is_null: false}
          lang: {_nin: ["zh", "es"]}
          source: {_ilike: "SRC1%"}
          doc_id: {_is_null: true}
        }) { doc_id } }""")
    assert(r.where === Some(And(
      IsNull("text", isNull = false), Nin("lang", Seq("zh", "es")),
      Ilike("source", "SRC1%"), IsNull("doc_id"))))
    assert(err("{ documents(where: {t: {_is_null: 1}}) { doc_id } }")
      .contains("expected a boolean"))
    assert(err("{ documents(where: {t: {_nin: 3}}) { doc_id } }")
      .contains("expected a list"))
    assert(err("{ documents(where: {t: {_nlike: 3}}) { doc_id } }")
      .contains("pattern must be a string"))
  }

  test("null literals: _eq/_neq null compile to IS [NOT] NULL (never " +
    "a comparison against the STRING \"null\"); null anywhere else is " +
    "a loud error; a JSON null variable behaves identically") {
    val r = parsed("""
      { documents(where: {
          text: {_eq: null}
          lang: {_neq: null}
        }) { doc_id } }""")
    assert(r.where === Some(And(
      IsNull("text", isNull = true), IsNull("lang", isNull = false))))
    assert(err("{ documents(where: {t: {_gt: null}}) { doc_id } }")
      .contains("null"))
    assert(err("{ documents(where: {t: {_in: [1, null]}}) { doc_id } }")
      .contains("null"))
    assert(err("{ documents(where: {t: {_like: null}}) { doc_id } }")
      .contains("null"))
    val viaVar = GraphQl.parse(
      "query ($v: String) { documents(where: {text: {_eq: $v}}) " +
        "{ doc_id } }",
      variables = """{"v": null}""")
    assert(viaVar.map(_.where) ===
      Right(Some(IsNull("text", isNull = true))))
  }

  test("malformed queries are Left values with positions, never " +
    "exceptions") {
    assert(err("{ customer { unknown_rel { x } } }")
      .contains("no tracked relationship"))
    assert(err("{ customer(where: {c: {_zap: 1}}) { c_custkey } }")
      .contains("unknown operator '_zap'"))
    assert(err("{ customer(where: {c: {_eq: 1, _lt: 2}}) { c_custkey } }")
      .contains("exactly one comparison operator"))
    assert(err("{ customer(order_by: {c_custkey: sideways}) { c } }")
      .contains("expected asc"))
    assert(err("{ customer { c_custkey }").contains("unterminated"))
    assert(err("{ customer { orders { k: o_orderkey } " +
      "items { x } } }").contains("no tracked relationship"))
    assert(err("""{ customer { c_custkey @fmt(round: 2) } }""")
      .contains("take no arguments/directives"))
    assert(err("{ customer { orders(limit: 3) { k: o_orderkey } } }")
      .contains("limit needs orderBy"))
    assert(err("{ customer {} }").contains("selects no fields"))
    assert(err("x") .nonEmpty)
    assert(err("{ customer(limit: \"five\") { c_custkey } }")
      .contains("expected an integer"))
    // trailing garbage reads as a malformed SECOND operation since
    // multi-operation documents became legal — still loud, still
    // positioned
    assert(err("{ customer { c_custkey } } trailing")
      .contains("expected an operation definition"))
  }

  test("operation variables: the client wire shape — declared in the " +
    "header, bound in the JSON map, resolved at value positions") {
    val q = """query Top($k: bigint!, $st: String!, $langs: [String!]) {
              |  customer(where: {_and: [{c_custkey: {_lte: $k}},
              |                          {c_mktsegment: {_nin: $langs}}]}) {
              |    c_custkey
              |    orders(where: {o_orderstatus: {_eq: $st}},
              |           order_by: {o_orderkey: asc}, limit: 2) {
              |      k: o_orderkey
              |    }
              |  }
              |}""".stripMargin
    val vars = """{"k": 50, "st": "O", "langs": ["MACHINERY"]}"""
    val r = GraphQl.parse(q, variables = vars)
      .getOrElse(fail("did not parse"))
    assert(r.where === Some(And(Lte("c_custkey", 50L),
      Nin("c_mktsegment", Seq("MACHINERY")))))
    assert(r.nested.head.where === Some(Eq("o_orderstatus", "O")))
    // a whole where-tree can arrive as an object variable
    val rw = GraphQl.parse(
      "query ($w: customer_bool_exp) { customer(where: $w) { c_custkey } }",
      variables = """{"w": {"c_custkey": {"_gte": 3}}}""")
      .getOrElse(fail("object variable did not parse"))
    assert(rw.where === Some(Gte("c_custkey", 3L)))
    def errV(q: String, vars: String): String =
      GraphQl.parse(q, variables = vars) match {
        case Left(m) => m
        case Right(r0) => fail(s"accepted as $r0")
      }
    assert(errV("query ($k: Int!) { customer { c_custkey } }", "{}")
      .contains("declared but not bound"))
    // ---- default values (spec CoerceVariableValues, r17) ----
    def whereOf(q: String, vars: String) =
      GraphQl.parse(q, variables = vars).fold(m => fail(m), identity).where
    val qDef = "query ($k: bigint = 7) " +
      "{ customer(where: {c_custkey: {_lte: $k}}) { c_custkey } }"
    // omitted binding -> the default applies
    assert(whereOf(qDef, "{}") === Some(Lte("c_custkey", 7L)))
    // an explicit binding WINS over the default
    assert(whereOf(qDef, """{"k": 9}""") === Some(Lte("c_custkey", 9L)))
    // an explicit null binding counts as provided (overrides the
    // default) — and a null-testing operator consumes it
    assert(GraphQl.parse(
      "query ($n: Boolean = false) " +
        "{ customer(where: {c_name: {_is_null: $n}}) { c_custkey } }",
      variables = "{}").isRight)
    // non-null type: a null DEFAULT applied to an unbound variable
    // rejects; a binding rescues the same document
    assert(errV("query ($k: bigint! = null) " +
      "{ customer(where: {c_custkey: {_lte: $k}}) { c_custkey } }", "{}")
      .contains("null for a non-null type"))
    assert(GraphQl.parse("query ($k: bigint! = null) " +
      "{ customer(where: {c_custkey: {_lte: $k}}) { c_custkey } }",
      variables = """{"k": 3}""").isRight)
    // defaults are CONST: a variable reference inside one is loud
    assert(errV("query ($a: bigint! = 1, $k: bigint = $a) " +
      "{ customer(where: {c_custkey: {_lte: $k}}) { c_custkey } }",
      """{"a": 2}""").contains("must be constant"))
    // list and object defaults parse through the const grammar
    assert(whereOf("query ($xs: [String!] = [\"BUILDING\", \"AUTO\"]) " +
      "{ customer(where: {c_mktsegment: {_in: $xs}}) { c_custkey } }",
      "{}") === Some(In("c_mktsegment", Seq("BUILDING", "AUTO"))))
    assert(whereOf("query ($w: customer_bool_exp = {c_custkey: {_gte: 3}}) " +
      "{ customer(where: $w) { c_custkey } }", "{}")
      === Some(Gte("c_custkey", 3L)))
    assert(errV("{ customer { c_custkey } }", """{"k": 1}""")
      .contains("bound but not declared"))
    assert(errV(
      "{ customer(where: {c_custkey: {_lte: $k}}) { c_custkey } }",
      """{}""").contains("undeclared variable $k"))
    assert(errV("{ customer { c_custkey } }", "[1]")
      .contains("variables: expected a JSON object"))
    // All-Variables-Used: a bound-but-unused variable is a dropped
    // filter waiting to return wrong rows
    assert(errV("query ($k: bigint!) { customer { c_custkey } }",
      """{"k": 50}""").contains("never used"))
    // malformed variables JSON is a Left, not a throw
    assert(errV("{ customer { c_custkey } }", "{oops")
      .contains("not valid JSON"))
    // order_by arriving AS a variable (JSON strings, not enums)
    val ro = GraphQl.parse(
      "query ($o: [customer_order_by!]) " +
        "{ customer(order_by: $o) { c_custkey } }",
      variables = """{"o": [{"c_custkey": "desc"}]}""")
      .getOrElse(fail("order_by variable did not parse"))
    assert(ro.orderBy === Seq(Order("c_custkey", desc = true)))
  }

  test("distinct_on parses (enum or list form) and runs identically " +
    "to the DSL q102") {
    val r = parsed("""
      { documents(distinct_on: lang,
                  order_by: [{lang: asc}, {n_chars: desc},
                             {doc_id: asc}]) {
          doc_id lang n_chars } }""")
    assert(r.distinctOn === Seq("lang"))
    val dir = sf("sf0.001")
    val viaGql = QueryBuilder.run(spark, dir, r).collect().toSeq
    val dsl = QueryBuilder.q102QbDistinctOn(spark, dir).collect().toSeq
    assert(viaGql.nonEmpty && viaGql === dsl)
    // order_by must lead with the distinct_on columns + tie tail
    assert(err("{ documents(distinct_on: lang, " +
      "order_by: {doc_id: asc}) { doc_id } }")
      .contains("must lead with the distinct_on"))
  }

  test("unknown or unsupported arguments are rejected, not silently " +
    "dropped (the wrong-rows failure mode)") {
    // per-relationship offset parses and lands on the Nested (a page
    // of each parent's children)
    val ro = parsed("{ customer { c_custkey orders(offset: 5, " +
      "order_by: {o_orderkey: asc}, limit: 3) { k: o_orderkey } } }")
    assert(ro.nested.head.offset === 5)
    assert(ro.nested.head.limit === Some(3))
    assert(err("{ customer(wher: {c_custkey: {_lte: 5}}) { c_custkey } }")
      .contains("unknown argument 'wher'"))
    // distinct_on without a leading order_by violates the Postgres
    // lead-the-order rule — rejected by the Request invariant, not
    // silently dropped
    assert(err("{ customer { c_custkey orders_aggregate(distinct_on: x)" +
      " { aggregate { count } } } }")
      .contains("must LEAD order_by"))
    assert(err("{ customer { c_custkey orders_aggregate @fmt(round: 1) " +
      "{ aggregate { count } } } }").contains("unknown directive @fmt"))
    // an ALIAS on an aggregate relationship prefixes its flat output
    // columns (r17) — and distinguishes the same relationship
    // aggregated twice
    assert(GraphQl.parse("{ customer { c_custkey o: orders_aggregate " +
      "{ aggregate { count } } } }")
      .fold(m => fail(m), identity).aggRels.head.prefix === Some("o"))
    // an alias names ONE column — two fields under it would collide
    assert(err("{ customer { c_custkey orders_aggregate { aggregate " +
      "{ lo: min { o_totalprice o_orderkey } } } } }")
      .contains("alias on min covers one field"))
  }

  test("tokenizer details: commas optional, # comments, escapes, " +
    "unicode escapes, operation names") {
    val r = parsed("query Named # a comment\n" +
      "{ customer(where: {c_name: {_eq: \"a\\u0041\\n\\\"b\\\"\"}}) " +
      "{ c_custkey, c_name } }")
    assert(r.where === Some(Eq("c_name", "aA\n\"b\"")))
    assert(r.fields === Seq("c_custkey", "c_name"))
  }

  // ---- fragments -----------------------------------------------------

  test("a named fragment spread compiles to EXACTLY the inline request" +
    " — definition before or after the operation") {
    val inline = parsed("""
      {
        customer(where: {c_custkey: {_lte: 50}}) {
          c_custkey
          orders(order_by: {o_orderkey: asc}, limit: 2) {
            k: o_orderkey
            p: o_totalprice @fmt(round: 2, printf: "%.2f")
          }
        }
      }""")
    val before = parsed("""
      fragment OrderCols on orders {
        k: o_orderkey
        p: o_totalprice @fmt(round: 2, printf: "%.2f")
      }
      {
        customer(where: {c_custkey: {_lte: 50}}) {
          c_custkey
          orders(order_by: {o_orderkey: asc}, limit: 2) { ...OrderCols }
        }
      }""")
    val after = parsed("""
      {
        customer(where: {c_custkey: {_lte: 50}}) {
          c_custkey
          orders(order_by: {o_orderkey: asc}, limit: 2) { ...OrderCols }
        }
      }
      fragment OrderCols on orders {
        k: o_orderkey
        p: o_totalprice @fmt(round: 2, printf: "%.2f")
      }""")
    assert(before === inline)
    assert(after === inline)
  }

  test("fragments work at the root level, mix with inline selections, " +
    "and may spread other fragments") {
    val r = parsed("""
      fragment Keys on customer { c_custkey ...Name }
      fragment Name on customer { c_name }
      { customer { ...Keys orders { k: o_orderkey } } }""")
    assert(r.fields === Seq("c_custkey", "c_name"))
    assert(r.nested.map(_.as) === Seq("orders"))
  }

  test("an inline fragment on the enclosing table splices its " +
    "selections; a relationship inside an inline fragment still " +
    "resolves from the schema") {
    val r = parsed("""
      { customer {
          c_custkey
          ... on customer { c_name orders { k: o_orderkey } }
      } }""")
    assert(r.fields === Seq("c_custkey", "c_name"))
    assert(r.nested.map(_.table) === Seq("orders"))
  }

  test("fragment error surface: undefined, unused, duplicate, " +
    "wrong type condition, cycles, stray dots") {
    assert(err("{ customer { c_custkey ...Nope } }")
      .contains("undefined fragment 'Nope'"))
    assert(err("fragment F on customer { c_name } " +
      "{ customer { c_custkey } }")
      .contains("defined but never spread"))
    assert(err("fragment F on customer { c_name } " +
      "fragment F on customer { c_custkey } " +
      "{ customer { ...F } }").contains("defined twice"))
    assert(err("fragment F on orders { o_orderkey } " +
      "{ customer { ...F } }")
      .contains("is on 'orders' but is spread inside a 'customer'"))
    assert(err("{ customer { ... on orders { o_orderkey } } }")
      .contains("type condition must match"))
    // A→B→A: the splice cap turns the cycle into a parse error, not a
    // hang (fragment bodies are captured textually, so the cycle only
    // surfaces at expansion)
    assert(err("fragment A on customer { ...B } " +
      "fragment B on customer { ...A } " +
      "{ customer { ...A } }").contains("cyclic"))
    assert(err("{ customer { c_custkey .. } }").contains("'...'"))
    assert(err("fragment on on customer { c_name } " +
      "{ customer { ...on } }").contains("'on' cannot name"))
  }

  test("fragments spread in EVERY grammar (spec 2.8): stream, root " +
    "aggregate, and mutation documents resolve spreads like inline " +
    "text, with Hasura's type names") {
    // _stream: named and inline fragments on the streamed table
    val sInline = GraphQl.parseStream(
      "subscription { orders_stream(cursor: {initial_value: " +
        "{o_orderkey: 10}}, batch_size: 5) { o_orderkey o_totalprice } }")
    assert(sInline.isRight)
    assert(GraphQl.parseStream(
      "fragment SCols on orders { o_orderkey o_totalprice } " +
        "subscription { orders_stream(cursor: {initial_value: " +
        "{o_orderkey: 10}}, batch_size: 5) { ...SCols } }") === sInline)
    assert(GraphQl.parseStream(
      "subscription { orders_stream(cursor: {initial_value: " +
        "{o_orderkey: 10}}, batch_size: 5) { ... on orders " +
        "{ o_orderkey o_totalprice } } }") === sInline)
    // root aggregate: spreads at all three levels of the shape —
    // the body wrapper, the aggregate fields, and the nodes rows
    val aInline = GraphQl.parseRootAggregate(
      "{ orders_aggregate { aggregate { count sum { o_totalprice } } " +
        "nodes { o_orderkey } } }")
    assert(aInline.isRight)
    assert(GraphQl.parseRootAggregate("""
      fragment Body on orders_aggregate {
        aggregate { ...Fns } nodes { ...Rows } }
      fragment Fns on orders_aggregate_fields {
        count sum { o_totalprice } }
      fragment Rows on orders { o_orderkey }
      { orders_aggregate { ...Body } }""") === aInline)
    // relationship aggregates in the READ grammar take the same
    // spreads (wrapper on <child>_aggregate, fields, nodes rows)
    val rInline = parsed("""
      { customer(where: {c_custkey: {_lte: 20}}) {
          c_custkey
          orders_aggregate { aggregate { count } nodes { o_orderkey } }
      } }""")
    assert(parsed("""
      fragment AggBody on orders_aggregate {
        aggregate { ...RFns } nodes { ...RRows } }
      fragment RFns on orders_aggregate_fields { count }
      fragment RRows on orders { o_orderkey }
      { customer(where: {c_custkey: {_lte: 20}}) {
          c_custkey
          orders_aggregate { ...AggBody }
      } }""") === rInline)
    // mutations: the response wrapper and the returning row share
    // Hasura's types (<t>_mutation_response / <t>)
    val mInline = GraphQl.parseMutationFields(
      """mutation { update_t(where: {k: {_lte: 5}}, _set: {seg: "X"})
        { affected_rows returning { k seg } } }""")
    assert(mInline.isRight)
    assert(GraphQl.parseMutationFields("""
      fragment Resp on t_mutation_response {
        affected_rows returning { ...Row } }
      fragment Row on t { k seg }
      mutation { update_t(where: {k: {_lte: 5}}, _set: {seg: "X"})
        { ...Resp } }""") === mInline)
    // by_pk responses ARE the row: a row-type fragment serves them
    assert(GraphQl.parseMutationFields(
      "fragment Row2 on t { k bal } " +
        "mutation { delete_t_by_pk(k: 4) { ...Row2 } }") ===
      GraphQl.parseMutationFields(
        "mutation { delete_t_by_pk(k: 4) { k bal } }"))
    // insert_one commits to the ROW shape when the fragment's own
    // type condition is the row type
    assert(GraphQl.parseMutationFields(
      "fragment Row3 on t { k bal } " +
        "mutation { insert_t_one(object: {k: 11}) { ...Row3 } }") ===
      GraphQl.parseMutationFields(
        "mutation { insert_t_one(object: {k: 11}) { k bal } }"))
  }

  test("fragment error surface extends to the other grammars: wrong " +
    "type conditions and dead fragments stay loud everywhere") {
    def sErr(q: String): String =
      GraphQl.parseStream(q).swap.getOrElse(fail("expected Left"))
    def mErr(q: String): String =
      GraphQl.parseMutationFields(q).swap.getOrElse(fail("expected Left"))
    def aErr(q: String): String =
      GraphQl.parseRootAggregate(q).swap.getOrElse(fail("expected Left"))
    assert(sErr("fragment F on customer { c_custkey } " +
      "subscription { orders_stream(cursor: {initial_value: " +
      "{o_orderkey: 10}}, batch_size: 5) { ...F } }")
      .contains("is on 'customer' but is spread inside a 'orders'"))
    assert(sErr("fragment F on orders { o_orderkey } " +
      "subscription { orders_stream(cursor: {initial_value: " +
      "{o_orderkey: 10}}, batch_size: 5) { o_orderkey } }")
      .contains("defined but never spread"))
    // a ROW-type fragment at the response level of a plain verb (not
    // insert_one) has no shape to commit to — the wrapper is the only
    // legal condition there
    assert(mErr("fragment Row on t { k } " +
      "mutation { update_t(where: {k: {_lte: 5}}, _set: {seg: \"X\"})" +
      " { ...Row } }").contains("t_mutation_response"))
    assert(mErr("fragment Row on orders { o_orderkey } " +
      "mutation { update_t(where: {k: {_lte: 5}}, _set: {seg: \"X\"})" +
      " { affected_rows returning { ...Row } } }")
      .contains("is on 'orders' but is spread inside a 't'"))
    assert(mErr("fragment Dead on t { k } " +
      "mutation { delete_t(where: {k: {_eq: 1}}) { affected_rows } }")
      .contains("defined but never spread"))
    assert(aErr("fragment Fns on customer_aggregate_fields { count } " +
      "{ orders_aggregate { aggregate { ...Fns } } }")
      .contains("is on 'customer_aggregate_fields'"))
    assert(aErr("fragment Rows on customer { c_custkey } " +
      "{ orders_aggregate { aggregate { count } nodes { ...Rows } } }")
      .contains("is on 'customer'"))
  }

  test("fuzz: every parser returns Either on garbage — random soup, " +
    "truncations, and mutations of valid documents never throw") {
    val seeds = Seq(GraphQl.q100Query, GraphQl.q118Mutation,
      GraphQl.q121Query, GraphQl.q130Query, GraphQl.q133Query,
      GraphQl.q135Query, GraphQl.q144Query,
      """{"table":"documents","fields":["doc_id"],"limit":3}""")
    val alphabet =
      "{}()[]:@!$,\"\\'#. \n\t_abz019\u2026\u00e9 \u202e" + "aggregate"
    val rnd = new scala.util.Random(42)
    def soup(n: Int): String =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString
    def mutate(q: String): String = rnd.nextInt(4) match {
      case 0 => q.take(rnd.nextInt(q.length + 1)) // truncation
      case 1 => // splice soup into the middle
        val i = rnd.nextInt(q.length + 1)
        q.take(i) + soup(1 + rnd.nextInt(8)) + q.drop(i)
      case 2 => // delete a span
        val i = rnd.nextInt(q.length)
        q.take(i) + q.drop(math.min(q.length, i + 1 + rnd.nextInt(10)))
      case _ => soup(1 + rnd.nextInt(60))
    }
    var checked = 0
    for (_ <- 0 until 400; base <- seeds) {
      val doc = mutate(base)
      checked += 1
      // each parser must produce a VALUE (either side), never throw
      GraphQl.parse(doc)
      GraphQl.parseMutations(doc)
      GraphQl.parseMutationFields(doc)
      GraphQl.parseRootAggregate(doc)
      RequestCodec.parse(doc)
    }
    assert(checked === 400 * seeds.length)
  }

  // ---- printer: parse ∘ render == id ---------------------------------

  test("printer: canned requests round-trip (q98/q101/q102/q103 and " +
    "the q100 query's own parse)") {
    val canned = Seq(
      "q98" -> QueryBuilder.q98Request, "q101" -> QueryBuilder.q101Request,
      "q102" -> QueryBuilder.q102Request,
      "q103" -> QueryBuilder.q103Request)
    canned.foreach { case (name, r) =>
      val text = GraphQl.render(r)
      assert(GraphQl.parse(text) === Right(r),
        s"$name did not round-trip:\n$text")
    }
    // the canned q100 GraphQL text: parse, render, re-parse — fixpoint
    val r0 = parsed(GraphQl.q100Query)
    assert(GraphQl.parse(GraphQl.render(r0)) === Right(r0))
    // the explicit null-placement family parses and round-trips
    locally {
      val r = parsed(
        """{ documents(order_by: [{source: asc_nulls_first},
          |  {lang: desc_nulls_last}, {doc_id: asc}], limit: 5) {
          |  doc_id } }""".stripMargin)
      assert(r.orderBy === Seq(
        Order("source", nullsFirst = Some(true)),
        Order("lang", desc = true, nullsFirst = Some(false)),
        Order("doc_id")))
      assert(GraphQl.parse(GraphQl.render(r)) === Right(r),
        s"nulls-order request did not round-trip:\n${GraphQl.render(r)}")
      assert(RequestCodec.parse(RequestCodec.render(r)) === Right(r))
      // a typo'd direction is loud
      GraphQl.parse(
        "{ documents(order_by: {doc_id: asc_nulls}) { doc_id } }") match {
        case Left(m) => assert(m.contains("expected asc"))
        case Right(x) => fail(s"parsed: $x")
      }
      // relationship-level order_by serves the FULL nulls family
      // (r15 — the in-array comparator places nulls by the spelled
      // rule) and round-trips through the printer
      GraphQl.parse(
        """{ customer { c_custkey
          |  orders(order_by: {o_orderkey: asc_nulls_first}, limit: 2) {
          |    o_orderkey } } }""".stripMargin) match {
        case Right(rr) =>
          assert(rr.nested.head.orderBy ===
            Seq(Order("o_orderkey", nullsFirst = Some(true))))
          assert(GraphQl.parse(GraphQl.render(rr)) === Right(rr),
            s"did not round-trip:\n${GraphQl.render(rr)}")
        case Left(m) => fail(m)
      }
      // the printer refuses nulls placement on ordering aggregates
      // (no parseable spelling) instead of drifting
      assertThrows[IllegalArgumentException](GraphQl.render(
        Request("customer", Seq("c_custkey"),
          orderBy = Seq(Order("__oa_0", desc = true,
            nullsFirst = Some(false)), Order("c_custkey")),
          orderAggs = Seq(OrderAgg("__oa_0", "orders", "o_custkey",
            "c_custkey", CountOf("o_custkey", "__oa_0_v"))))))
    }
    // relationship predicates + aggregate ordering render back to
    // their tracked spellings (q133/q134/q135)
    locally {
      val r135 = parsed(GraphQl.q135Query)
      assert(r135.orderAggs.length === 2 &&
        r135.orderBy.map(_.field) === Seq("__oa_0", "__oa_1", "c_custkey"))
      assert(GraphQl.parse(GraphQl.render(r135)) === Right(r135),
        s"agg-order request did not round-trip:\n${GraphQl.render(r135)}")
      // the wire codec has no spelling — loud, never a silent drop
      assertThrows[IllegalArgumentException](RequestCodec.render(r135))
    }
    Seq(GraphQl.q133Query, GraphQl.q134Query).foreach { q =>
      val r = parsed(q)
      assert(
        r.where.exists(QueryBuilder.hasRelPred),
        s"fixture self-check: no RelPred parsed from\n$q")
      assert(GraphQl.parse(GraphQl.render(r)) === Right(r),
        s"rel-pred request did not round-trip:\n${GraphQl.render(r)}")
    }
    // q105 carries magnitude-aware roundings the query language cannot
    // spell — the printer must refuse, not drift
    assertThrows[IllegalArgumentException](
      GraphQl.render(QueryBuilder.q105Request))
  }

  test("printer: parse(render(r)) == Right(r) over generated requests " +
    "(deterministic property sweep)") {
    import org.scalacheck.{Gen, rng}
    val custFields = Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    val ordFields = Seq("o_orderkey", "o_totalprice", "o_orderstatus")
    def genLit: Gen[Any] = Gen.oneOf(
      Gen.choose(-100000L, 100000L),
      Gen.oneOf("A", "x%", "O'hare \"q\"", "tab\there", "", "line\nbreak"),
      Gen.choose(-1.0e6, 1.0e6),
      Gen.oneOf(true, false))
    def genLeaf(fields: Seq[String]): Gen[BoolExp] = for {
      f <- Gen.oneOf(fields)
      leaf <- Gen.oneOf[Gen[BoolExp]](
        genLit.map(Eq(f, _)), genLit.map(Neq(f, _)),
        genLit.map(Gt(f, _)), genLit.map(Gte(f, _)),
        genLit.map(Lt(f, _)), genLit.map(Lte(f, _)),
        Gen.listOfN(2, genLit).map(In(f, _)),
        Gen.listOfN(3, genLit).map(Nin(f, _)),
        Gen.const(In(f, Nil)),
        Gen.oneOf("%x%", "a_b", "").map(Like(f, _)),
        Gen.oneOf("%8", "S_").map(Nlike(f, _)),
        Gen.oneOf("SRC%", "%Q%").map(Ilike(f, _)),
        Gen.oneOf("^e", "[0-9]+$", "a.b\\d").map(Regex(f, _)),
        Gen.zip(Gen.oneOf("^SRC", "x|y"), Gen.oneOf(true, false))
          .map { case (p, ci) => Regex(f, p, ci) },
        Gen.zip(Gen.oneOf("8$", "\"esc\""), Gen.oneOf(true, false))
          .map { case (p, ci) => Nregex(f, p, ci) },
        Gen.oneOf("e(n|s)", "%src_", "a.c%").map(Similar(f, _)),
        Gen.oneOf("z%", "_\\%lit").map(Nsimilar(f, _)),
        Gen.oneOf(true, false).map(IsNull(f, _))).flatMap(identity)
    } yield leaf
    def genTree(fields: Seq[String], depth: Int): Gen[BoolExp] =
      if (depth <= 0) genLeaf(fields)
      else Gen.frequency(
        3 -> genLeaf(fields),
        1 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n,
          genTree(fields, depth - 1)).map(es => And(es: _*))),
        1 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n,
          genTree(fields, depth - 1)).map(es => Or(es: _*))),
        1 -> genTree(fields, depth - 1).map(Not(_)))
    def genOrders(fields: Seq[String]): Gen[Seq[Order]] = for {
      n <- Gen.choose(1, fields.length)
      fs <- Gen.pick(n, fields)
      descs <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield fs.toSeq.zip(descs).map { case (f, d) => Order(f, d) }
    val genNestedField: Gen[NestedField] = for {
      f <- Gen.oneOf(ordFields)
      alias <- Gen.oneOf(Some("k"), Some("val_x"), None)
      fmt <- Gen.oneOf(None, Some((2, "%.2f")))
      cast <- Gen.oneOf(None, Some("long"), None)
    } yield NestedField(alias.getOrElse(f), f,
      if (cast.isEmpty) fmt else None, cast)
    val genNested: Gen[Nested] = for {
      as <- Gen.oneOf("orders", "os")
      nf <- Gen.choose(1, 3)
      fields0 <- Gen.listOfN(nf, genNestedField)
      fields = fields0.zipWithIndex.map { case (f, i) =>
        if (fields0.map(_.as).distinct.length == nf) f
        else f.copy(as = s"${f.as}_$i") // output names must be unique
      }
      where <- Gen.option(genTree(ordFields, 1))
      hasOrder <- Gen.oneOf(true, false)
      orders <- if (hasOrder) genOrders(ordFields) else Gen.const(Nil)
      limit <- if (orders.nonEmpty) Gen.option(Gen.choose(1, 5))
        else Gen.const(None)
      offset <- if (orders.nonEmpty) Gen.oneOf(0, 0, 2)
        else Gen.const(0)
      join <- Gen.oneOf("inner", "left")
      sub <- Gen.oneOf(true, false).map(b =>
        if (b) Seq(Nested(as = "items", table = "lineitem",
          childKey = "l_orderkey", parentKey = "o_orderkey",
          fields = Seq(NestedField("q", "l_quantity",
            cast = Some("long")))))
        else Nil)
    } yield Nested(as = as, table = "orders", childKey = "o_custkey",
      parentKey = "c_custkey", fields = fields, subs = sub,
      joinType = join, where = where, orderBy = orders, limit = limit,
      offset = offset)
    val genAggField: Gen[AggField] = Gen.oneOf[AggField](
      CountOf("o_custkey", "count"), CountOf("o_custkey", "n"),
      SumOf("o_totalprice", "sum_o_totalprice"),
      SumOf("o_totalprice", "s"),
      MinOf("o_totalprice", "min_o_totalprice"),
      MaxOf("o_totalprice", "hi"), AvgOf("o_totalprice", "mean"),
      StddevOf("o_totalprice", "stddev_o_totalprice"),
      StddevOf("o_totalprice", "stddev_samp_o_totalprice"),
      StddevOf("o_totalprice", "sd"),
      StddevOf("o_totalprice", "stddev_pop_o_totalprice", pop = true),
      VarianceOf("o_totalprice", "variance_o_totalprice"),
      VarianceOf("o_totalprice", "vx"),
      VarianceOf("o_totalprice", "var_pop_o_totalprice", pop = true))
    val genAggRel: Gen[AggRel] = for {
      nf <- Gen.choose(1, 4)
      aggs0 <- Gen.listOfN(nf, genAggField)
      aggs = aggs0.zipWithIndex.map { case (a, i) =>
        if (aggs0.map(_.as).distinct.length == nf) a
        else (a match { // unique output names, keeping default-name forms
          case c: CountOf => c.copy(as = s"n_$i")
          case s0: SumOf => s0.copy(as = s"s_$i")
          case m: MinOf => m.copy(as = s"lo_$i")
          case m: MaxOf => m.copy(as = s"hi_$i")
          case a0: AvgOf => a0.copy(as = s"m_$i")
          case s0: StddevOf => s0.copy(as = s"sd_$i")
          case v: VarianceOf => v.copy(as = s"v_$i")
        }): AggField
      }
      where <- Gen.option(genTree(ordFields, 1))
      nodes <- Gen.oneOf(Nil, Seq("o_orderkey"),
        Seq("o_orderkey", "price"))
    } yield AggRel(table = "orders", childKey = "o_custkey",
      parentKey = "c_custkey", aggs = aggs, where = where,
      nodes = nodes)
    val genRequest: Gen[Request] = for {
      nf <- Gen.choose(1, custFields.length)
      fields <- Gen.pick(nf, custFields)
      where <- Gen.option(genTree(custFields, 2))
      hasOrder <- Gen.oneOf(true, false)
      orders <- if (hasOrder) genOrders(custFields) else Gen.const(Nil)
      limit <- Gen.option(Gen.choose(1, 100))
      offset <- Gen.oneOf(0, 0, 0, 7)
      nested <- Gen.oneOf(true, false).flatMap(b =>
        if (b) genNested.map(Seq(_)) else Gen.const(Nil))
      aggs <- Gen.oneOf(true, false).flatMap(b =>
        if (b) genAggRel.map(Seq(_)) else Gen.const(Nil))
    } yield Request(table = "customer", fields = fields.toSeq,
      where = where, orderBy = orders, offset = offset, limit = limit,
      nested = nested, aggRels = aggs)
    var checked = 0
    (1 to 400).foreach { seed =>
      genRequest.apply(Gen.Parameters.default, rng.Seed(seed.toLong))
        .foreach { r =>
          checked += 1
          val text = GraphQl.render(r)
          assert(GraphQl.parse(text) === Right(r),
            s"seed $seed did not round-trip:\n$text\n$r")
        }
    }
    assert(checked > 300, s"generator drought: only $checked samples")
  }

  test("printer: unrenderable shapes reject loudly, not silently drift") {
    // non-default rounding has no GraphQL spelling
    assertThrows[IllegalArgumentException](GraphQl.render(Request(
      table = "customer", fields = Seq("c_custkey"),
      aggRels = Seq(AggRel("orders", "o_custkey", "c_custkey",
        Seq(SumOf("o_totalprice", "s", roundTo = 3)))))))
    // count of a non-key field cannot be spelled (parse counts the key)
    assertThrows[IllegalArgumentException](GraphQl.render(Request(
      table = "customer", fields = Seq("c_custkey"),
      aggRels = Seq(AggRel("orders", "o_custkey", "c_custkey",
        Seq(CountOf("o_orderkey", "n")))))))
    // an untracked relationship cannot be named in query text
    assertThrows[IllegalArgumentException](GraphQl.render(Request(
      table = "customer", fields = Seq("c_custkey"),
      nested = Seq(Nested(as = "x", table = "nation",
        childKey = "n_nationkey", parentKey = "c_nationkey",
        fields = Seq(NestedField("n", "n_name")))))))
    // null literals: `_eq: null` PARSES as IS NULL, so rendering the
    // DSL's never-true Eq(f, null) would silently change the request —
    // must throw, not drift (and Gt(f, null) must not render text the
    // parser then rejects)
    assertThrows[IllegalArgumentException](GraphQl.render(Request(
      table = "documents", fields = Seq("doc_id"),
      where = Some(Eq("source", null)))))
    assertThrows[IllegalArgumentException](GraphQl.render(Request(
      table = "documents", fields = Seq("doc_id"),
      where = Some(In("lang", Seq("en", null))))))
  }

  test("a fragment body participates in variable use-tracking (a " +
    "variable used only inside a fragment is 'used')") {
    val r = GraphQl.parse(
      """query ($cap: bigint!) {
        |  customer { c_custkey ...F }
        |}
        |fragment F on customer {
        |  orders(where: {o_orderkey: {_lte: $cap}},
        |         order_by: {o_orderkey: asc}) { k: o_orderkey }
        |}""".stripMargin,
      variables = """{"cap": 99}""")
    assert(r.isRight, r)
    assert(r.toOption.get.nested.head.where === Some(Lte("o_orderkey", 99L)))
  }

  test("JSONB operators round-trip through the GraphQL printer and " +
    "the wire codec; unknown keys reject in both") {
    val w = And(
      HasKey("props", "k"),
      HasKeysAny("props", Seq("a", "b")),
      HasKeysAll("props", Seq("a")),
      JsonContains("props",
        Seq("k" -> 69L, "m" -> "x", "b" -> true, "d" -> 1.5)),
      JsonContainedIn("props", Seq("k" -> 69L)),
      Not(JsonContainedIn("props", Nil)))
    val r = Request("events", fields = Seq("event_id"), where = Some(w),
      orderBy = Seq(Order("event_id")), limit = Some(5))
    assert(GraphQl.parse(GraphQl.render(r)) === Right(r))
    assert(RequestCodec.parse(RequestCodec.render(r)) === Right(r))
    // a non-name key has no renderable spelling and no parse
    assert(GraphQl.parse(
      """{ events(where: {props: {_contains: {k: null}}}) {
        | event_id } }""".stripMargin).isLeft)
    assert(GraphQl.parse(
      """{ events(where: {props: {_has_key: 5}}) { event_id } }""")
      .isLeft)
    assert(GraphQl.parse(
      """{ events(where: {props: {_has_keys_any: "k"}}) {
        | event_id } }""".stripMargin).isLeft)
  }

  test("relationship-aggregate nodes arm parses, round-trips through " +
    "printer and codec; degenerate bodies reject") {
    val r = GraphQl.parse(GraphQl.q149Query).fold(m => fail(m), identity)
    assert(r.aggRels.head.nodes === Seq("o_orderkey"))
    assert(GraphQl.parse(GraphQl.render(r)) === Right(r))
    assert(RequestCodec.parse(RequestCodec.render(r)) === Right(r))
    // a nodes-only body (no aggregate arm) is legal Hasura
    val r2 = GraphQl.parse(
      """{ customer { c_custkey
        |  orders_aggregate { nodes { o_orderkey } } } }""".stripMargin)
      .fold(m => fail(m), identity)
    assert(r2.aggRels.head.aggs.isEmpty &&
      r2.aggRels.head.nodes === Seq("o_orderkey"))
    assert(GraphQl.parse(GraphQl.render(r2)) === Right(r2))
    // empty nodes selection and empty body reject loudly
    assert(GraphQl.parse(
      "{ customer { c_custkey orders_aggregate { nodes { } } } }")
      .isLeft)
    assert(GraphQl.parse(
      "{ customer { c_custkey orders_aggregate { } } }").isLeft)
  }

  test("object relationships: q153 parses to a single-flagged Nested " +
    "with RelPred filter and OrderAgg ordering; round-trips; " +
    "one-row-meaningless args reject") {
    val r = GraphQl.parse(GraphQl.q153Query).fold(m => fail(m), identity)
    val n = r.nested.head
    assert(n.single && n.table === "customer" &&
      n.childKey === "c_custkey" && n.parentKey === "o_custkey" &&
      n.joinType === "left")
    // the where-tree predicate through the object rel is a RelPred
    assert(r.where === Some(And(
      Gt("o_totalprice", 450000.0),
      RelPred("customer", "c_custkey", "o_custkey",
        Eq("c_mktsegment", "BUILDING")))))
    // ordering by the related row's column = a hidden MaxOf OrderAgg
    assert(r.orderAggs.map(oa => (oa.table, oa.childKey, oa.parentKey))
      === Seq(("customer", "c_custkey", "o_custkey")))
    assert(r.orderAggs.head.agg.isInstanceOf[MaxOf])
    // printer + codec round-trips (codec: single flag; printer: the
    // object-rel name resolves from objRels, left default bare)
    assert(GraphQl.parse(GraphQl.render(r)) === Right(r))
    val rNoOrder = r.copy(orderBy = r.orderBy.filterNot(
      _.field.startsWith("__oa")), orderAggs = Nil)
    assert(RequestCodec.parse(RequestCodec.render(rNoOrder))
      === Right(rNoOrder))
    // slicing args have no one-object semantics
    assert(GraphQl.parse(
      "{ orders { o_orderkey customer(limit: 1) { c_name } } }")
      .isLeft)
    assert(GraphQl.parse(
      "{ orders { o_orderkey customer(order_by: {c_name: asc}) " +
        "{ c_name } } }").isLeft)
    // object rels nest BELOW the root too (r17): the sub compiles
    // single-flagged with the left default
    val rBelow = GraphQl.parse(
      "{ customer { c_custkey orders { o_orderkey customer " +
        "{ c_name } } } }").fold(m => fail(m), identity)
    val oSub = rBelow.nested.head.subs.head
    assert(oSub.single && oSub.joinType === "left" &&
      oSub.table === "customer")
    // a name tracked as NEITHER shape still rejects
    assert(GraphQl.parse(
      "{ orders { o_orderkey supplier { s_name } } }").isLeft)
  }

  test("_stream: the canned q145 document parses to the cursor request") {
    val sr = GraphQl.parseStream(GraphQl.q145Query)
      .fold(m => fail(m), identity)
    assert(sr === Subscriptions.StreamRequest("events", "event_id",
      Some(3000L), batchSize = 7,
      where = Some(Eq("event_type", "click")),
      fields = Seq("event_id", "user_id", "event_type", "value")))
  }

  test("_stream: Hasura spellings — list-form cursor, null " +
    "initial_value, DESC, operation variables at value positions") {
    // Hasura's declared argument type is [<t>_stream_cursor_input]!
    val listForm = GraphQl.parseStream(
      """subscription ($after: bigint!, $n: Int!) {
        |  events_stream(
        |    cursor: [{initial_value: {event_id: $after}}],
        |    batch_size: $n) {
        |    event_id
        |  }
        |}""".stripMargin,
      variables = """{"after": 42, "n": 5}""")
    assert(listForm === Right(Subscriptions.StreamRequest("events",
      "event_id", Some(42L), batchSize = 5, fields = Seq("event_id"))))
    val fromStart = GraphQl.parseStream(
      """subscription {
        |  events_stream(
        |    cursor: {initial_value: {ts: null}, ordering: DESC},
        |    batch_size: 3) { event_id ts }
        |}""".stripMargin)
    assert(fromStart === Right(Subscriptions.StreamRequest("events",
      "ts", None, ascending = false, batchSize = 3,
      fields = Seq("event_id", "ts"))))
  }

  test("_stream: silent-wrong-stream shapes reject loudly") {
    def left(doc: String, vars: String = "{}"): String =
      GraphQl.parseStream(doc, variables = vars)
        .fold(identity, r => fail(s"parsed: $r"))
    // query header: the surface is subscription-only
    assert(left("query { events_stream(cursor: {initial_value: " +
      "{event_id: 1}}, batch_size: 2) { event_id } }")
      .contains("subscription-only"))
    // multi-cursor list
    assert(left("subscription { events_stream(cursor: [" +
      "{initial_value: {event_id: 1}}, {initial_value: {ts: null}}], " +
      "batch_size: 2) { event_id } }").contains("exactly one cursor"))
    // a MIXED null/value composite tuple has no resume point (r19:
    // multiple cursor columns themselves are now the composite form)
    assert(left("subscription { events_stream(cursor: " +
      "{initial_value: {event_id: 1, ts: null}}, batch_size: 2) " +
      "{ event_id } }").contains("FULL tuple"))
    // missing batch_size / non-positive batch_size
    assert(left("subscription { events_stream(cursor: " +
      "{initial_value: {event_id: 1}}) { event_id } }")
      .contains("batch_size is required"))
    assert(left("subscription { events_stream(cursor: " +
      "{initial_value: {event_id: 1}}, batch_size: 0) { event_id } }")
      .contains("must be positive"))
    // unknown argument / unknown cursor field / bad ordering
    assert(left("subscription { events_stream(cursor: " +
      "{initial_value: {event_id: 1}}, batch_size: 2, limit: 5) " +
      "{ event_id } }").contains("unknown argument"))
    assert(left("subscription { events_stream(cursor: " +
      "{initial_value: {event_id: 1}, order: ASC}, batch_size: 2) " +
      "{ event_id } }").contains("unknown field 'order'"))
    assert(left("subscription { events_stream(cursor: " +
      "{initial_value: {event_id: 1}, ordering: UP}, batch_size: 2) " +
      "{ event_id } }").contains("ASC or DESC"))
    // relationship selections SERVE as of r17 (q204) — an UNTRACKED
    // one still rejects loudly
    assert(left("subscription { events_stream(cursor: " +
      "{initial_value: {event_id: 1}}, batch_size: 2) " +
      "{ event_id user { name } } }")
      .contains("no tracked relationship"))
    // (aliases on stream fields SERVE as of r15 — the duplicate
    // response key is the remaining loud shape, pinned in the field
    // aliases test)
    // a bound-but-unused variable is a dropped filter
    assert(left("subscription ($x: bigint!) { events_stream(cursor: " +
      "{initial_value: {event_id: 1}}, batch_size: 2) { event_id } }",
      vars = """{"x": 9}""").contains("never used"))
    // a non-_stream root belongs to parse
    assert(left("subscription { events(cursor: {initial_value: " +
      "{event_id: 1}}, batch_size: 2) { event_id } }")
      .contains("expected <table>_stream"))
    // a relationship predicate in the stream where has no cursor-scan
    // form: column-only compilation makes it a parse Left, never a
    // first-trigger crash
    assert(GraphQl.parseStream(
      """subscription { customer_stream(cursor: {initial_value:
        | {c_custkey: null}}, batch_size: 2,
        | where: {orders: {o_totalprice: {_gt: 1.0}}}) {
        | c_custkey } }""".stripMargin).isLeft)
  }

  test("_stream printer: parseStream(renderStream(sr)) == Right(sr) " +
    "over a seeded sweep") {
    import org.scalacheck.{Gen, rng}
    val fields = Seq("event_id", "user_id", "event_type", "value")
    val genLeaf: Gen[BoolExp] = for {
      f <- Gen.oneOf(fields)
      leaf <- Gen.oneOf(
        Gen.oneOf[Any](1L, 2.5, "cl\"ick\n").map(Eq(f, _): BoolExp),
        Gen.choose(0L, 99L).map(Gt(f, _): BoolExp),
        Gen.listOfN(2, Gen.choose(0L, 9L))
          .map(vs => In(f, vs.map(x => x: Any)): BoolExp),
        Gen.oneOf("cl%", "%k").map(Ilike(f, _): BoolExp),
        Gen.oneOf(true, false).map(IsNull(f, _): BoolExp))
    } yield leaf
    def genTree(depth: Int): Gen[BoolExp] =
      if (depth <= 0) genLeaf
      else Gen.frequency(
        3 -> genLeaf,
        1 -> Gen.choose(1, 3).flatMap(n =>
          Gen.listOfN(n, genTree(depth - 1)).map(es => And(es: _*))),
        1 -> Gen.choose(1, 2).flatMap(n =>
          Gen.listOfN(n, genTree(depth - 1)).map(es => Or(es: _*))),
        1 -> genTree(depth - 1).map(Not(_)))
    val genSr: Gen[Subscriptions.StreamRequest] = for {
      cursor <- Gen.oneOf(fields)
      initial <- Gen.oneOf[Option[Any]](None, Some(7L), Some("k\"x"),
        Some(1.25))
      asc <- Gen.oneOf(true, false)
      bs <- Gen.choose(1, 9)
      where <- Gen.option(genTree(2))
      nf <- Gen.choose(1, fields.length)
      fs <- Gen.pick(nf, fields)
    } yield Subscriptions.StreamRequest("events", cursor, initial,
      ascending = asc, batchSize = bs, where = where, fields = fs.toSeq)
    var checked = 0
    (1 to 200).foreach { seed =>
      genSr.apply(Gen.Parameters.default, rng.Seed(seed.toLong))
        .foreach { sr =>
          checked += 1
          val text = GraphQl.renderStream(sr)
          assert(GraphQl.parseStream(text) === Right(sr),
            s"seed $seed did not round-trip:\n$text\n$sr")
        }
    }
    assert(checked > 150, s"generator drought: only $checked samples")
  }

  test("@include/@skip: selections toggle by literal or variable at " +
    "root and nested levels; excluded bodies still parse-check") {
    // $all=true keeps the include'd fields and drops the skip'd one
    val all = parsed2(GraphQl.q178Query, """{"all": true}""")
    assert(all.fields === Seq("c_custkey", "c_name"))
    assert(all.nested.map(_.as) === Seq("orders"))
    // $all=false: the exact complement (q178's served shape)
    val none = parsed2(GraphQl.q178Query, """{"all": false}""")
    assert(none.fields === Seq("c_custkey", "c_acctbal"))
    assert(none.nested.isEmpty)
    // nested-level conditionals prune inside relationship bodies, and
    // an EXCLUDED first sub-relationship frees the one-per-level slot
    val r = parsed2("""{
      |  customer(where: {c_custkey: {_eq: 1}}) {
      |    c_custkey
      |    orders {
      |      o_orderkey
      |      o_totalprice @skip(if: true)
      |      items @include(if: false) { l_linenumber }
      |      items @include(if: true) { l_quantity }
      |    }
      |  }
      |}""".stripMargin, "{}")
    val o = r.nested.head
    assert(o.fields.map(_.field) === Seq("o_orderkey"))
    assert(o.subs.head.fields.map(_.field) === Seq("l_quantity"))
    // the excluded body still parses and still type-checks: a bogus
    // relationship inside an excluded field is an error, not a skip
    assert(GraphQl.parse("""{
      |  customer { c_custkey
      |    nonsense @include(if: false) { x } } }""".stripMargin)
      .isLeft)
    // malformed conditionals are loud
    assert(GraphQl.parse(
      "{ customer { c_custkey c_name @include } }").isLeft)
    assert(GraphQl.parse(
      "{ customer { c_custkey c_name @skip(if: 1) } }").isLeft)
  }

  test("multi-operation documents: operationName selects; anonymous " +
    "requests against several operations are loud; names must exist " +
    "and be unique; variables check against the CHOSEN operation") {
    // selecting the decoy works too — its shape, not Sel's
    val other = GraphQl.parse(GraphQl.q179Doc,
      operationName = Some("Other")).fold(m => fail(m), identity)
    assert(other.table === "region" && other.fields === Seq("r_regionkey"))
    // the q179 canned path picks Sel (its q178 shape)
    val sel = GraphQl.parse(GraphQl.q179Doc,
      variables = """{"all": true}""", operationName = Some("Sel"))
      .fold(m => fail(m), identity)
    assert(sel.fields === Seq("c_custkey", "c_name"))
    // anonymous against two operations: loud
    GraphQl.parse(GraphQl.q179Doc) match {
      case Left(m) => assert(m.contains("operationName"), m)
      case Right(r) => fail(s"parsed: $r")
    }
    // unknown and duplicate names: loud
    GraphQl.parse(GraphQl.q179Doc, operationName = Some("Nope")) match {
      case Left(m) => assert(m.contains("Nope"), m)
      case Right(r) => fail(s"parsed: $r")
    }
    GraphQl.parse(GraphQl.q179Doc + "\nquery Other { region { r_name } }",
      operationName = Some("Other")) match {
      case Left(m) => assert(m.contains("ambiguous"), m)
      case Right(r) => fail(s"parsed: $r")
    }
    // a MULTI-operation document tolerates bound-but-undeclared
    // variables (GraphiQL's shared variables pane POSTs the union of
    // every tab's bindings; the spec's CoerceVariableValues ignores
    // extraneous values) — $all belongs to Sel, selecting Other works
    val tol = GraphQl.parse(GraphQl.q179Doc,
      variables = """{"all": true}""", operationName = Some("Other"))
      .fold(m => fail(m), identity)
    assert(tol.table === "region")
    // ...but only DECLARED variables resolve: an undeclared $name at
    // a use site inside the CHOSEN operation is still loud
    GraphQl.parse(
      """query A { region(limit: $n) { r_regionkey } }
        |query B { nation { n_nationkey } }""".stripMargin,
      variables = """{"n": 2}""", operationName = Some("A")) match {
      case Left(m) => assert(m.toLowerCase.contains("variable"), m)
      case Right(r) => fail(s"parsed: $r")
    }
    // the strict check HOLDS for single-operation documents
    GraphQl.parse("query Only { region { r_regionkey } }",
      variables = """{"stray": 1}""") match {
      case Left(m) => assert(m.contains("bound but not declared"), m)
      case Right(r) => fail(s"parsed: $r")
    }
    // single-operation documents stay anonymous-servable (regression)
    assert(GraphQl.parse("{ region { r_regionkey } }").isRight)
    // selecting a MUTATION through the read path is diagnosed as such,
    // not mis-blamed on variables or braces
    GraphQl.parse(
      GraphQl.q179Doc + "\nmutation M { delete_customer(" +
        "where: {c_custkey: {_eq: 1}}) { affected_rows } }",
      operationName = Some("M")) match {
      case Left(m) => assert(m.contains("mutation"), m)
      case Right(r) => fail(s"parsed: $r")
    }
    // the stream grammar selects by operationName too; a wrong-kind
    // pick diagnoses the subscription-only surface
    val streamTab = GraphQl.q179Doc + "\n" +
      """subscription S {
        |  events_stream(cursor: {initial_value: {event_id: null}},
        |                batch_size: 5) {
        |    event_id
        |  }
        |}""".stripMargin
    val sr = GraphQl.parseStream(streamTab, operationName = Some("S"))
      .fold(m => fail(m), identity)
    assert(sr.table === "events" && sr.batchSize === 5)
    GraphQl.parseStream(streamTab, operationName = Some("Other")) match {
      case Left(m) => assert(m.contains("subscription-only"), m)
      case Right(r) => fail(s"parsed: $r")
    }
  }

  test("relationship order_by accepts the FULL nulls placement " +
    "family — default and non-default spellings both parse and " +
    "execute (r15: the in-array comparator honors the spelled rule)") {
    val r = GraphQl.parse(
      """{
        |  customer(where: {c_custkey: {_lte: 5}}) {
        |    c_custkey
        |    orders(order_by: [{o_totalprice: desc_nulls_first},
        |                      {o_orderkey: asc_nulls_last}],
        |           limit: 2) { o_orderkey }
        |  }
        |}""".stripMargin).fold(m => fail(m), identity)
    assert(r.nested.head.orderBy.map(_.nullsFirst) ===
      Seq(Some(true), Some(false)))
    // ...and it EXECUTES (the array sort implements exactly this rule)
    assert(QueryBuilder.run(spark, sf("sf0.001"), r).count() === 6L)
    // the previously-refused NON-default spelling now parses AND
    // executes; on the null-free fixture it answers like the default
    val nd = GraphQl.parse(
      """{
        |  customer(where: {c_custkey: {_lte: 5}}) {
        |    c_custkey
        |    orders(order_by: [{o_totalprice: desc_nulls_last},
        |                      {o_orderkey: asc}],
        |           limit: 2) { o_orderkey }
        |  }
        |}""".stripMargin).fold(m => fail(m), identity)
    assert(nd.nested.head.orderBy.head.nullsFirst === Some(false))
    val dirr = sf("sf0.001")
    assert(QueryBuilder.run(spark, dirr, nd)
      .collect().map(x => (x.getLong(0), x.getString(1))).toSeq ===
      QueryBuilder.run(spark, dirr, GraphQl.parse(
        """{
          |  customer(where: {c_custkey: {_lte: 5}}) {
          |    c_custkey
          |    orders(order_by: [{o_totalprice: desc},
          |                      {o_orderkey: asc}],
          |           limit: 2) { o_orderkey }
          |  }
          |}""".stripMargin).fold(m => fail(m), identity))
        .collect().map(x => (x.getLong(0), x.getString(1))).toSeq)
  }

  test("multi-operation fragment use is DOCUMENT-wide: a fragment " +
    "spread only by a non-chosen operation is not 'never spread'") {
    val doc =
      """query A { region { ...RF } }
        |query B { nation { n_nationkey } }
        |fragment RF on region { r_regionkey }""".stripMargin
    // choosing B: RF is spread by A — the spec's All-Fragments-Used
    // rule counts the whole document, so this parses
    val b = GraphQl.parse(doc, operationName = Some("B"))
      .fold(m => fail(m), identity)
    assert(b.table === "nation")
    // choosing A still resolves the spread normally
    val a = GraphQl.parse(doc, operationName = Some("A"))
      .fold(m => fail(m), identity)
    assert(a.fields === Seq("r_regionkey"))
    // a fragment spread NOWHERE in the document is still loud on a
    // multi-operation document...
    GraphQl.parse(
      doc + "\nfragment Dead on region { r_name }",
      operationName = Some("B")) match {
      case Left(m) => assert(m.contains("Dead"), m)
      case Right(r) => fail(s"parsed: $r")
    }
    // ...and the single-operation strict check is unchanged
    GraphQl.parse(
      """query A { region { r_regionkey } }
        |fragment Dead on region { r_name }""".stripMargin) match {
      case Left(m) => assert(m.contains("Dead"), m)
      case Right(r) => fail(s"parsed: $r")
    }
    // a fragment spread only from another (used) fragment's body
    // counts as spread too
    val nested =
      """query A { customer { c_custkey orders { ...OF } } }
        |query B { nation { n_nationkey } }
        |fragment OF on orders { ...OG }
        |fragment OG on orders { o_orderkey }""".stripMargin
    assert(GraphQl.parse(nested, operationName = Some("B")).isRight)
    // used = REACHABLE from an operation: two dead fragments
    // spreading each other must not keep each other alive
    GraphQl.parse(
      """query A { region { r_regionkey } }
        |query B { nation { n_nationkey } }
        |fragment DA on region { r_name ...DB }
        |fragment DB on region { ...DA }""".stripMargin,
      operationName = Some("B")) match {
      case Left(m) => assert(m.contains("never spread"), m)
      case Right(r) => fail(s"parsed: $r")
    }
  }

  test("@include/@skip on streams and root aggregates: fields gate, " +
    "excluded bodies still compile, fully-skipped is the no-op") {
    // the q183 canned shape: variable-driven toggles on stream fields
    val sr = GraphQl.parseStream(GraphQl.q183Doc,
      variables = """{"all": false, "spare": 1}""",
      operationName = Some("Pick")).fold(m => fail(m), identity)
    assert(sr.fields === Seq("event_id", "event_type"))
    assert(sr.batchSize === 7)
    val srAll = GraphQl.parseStream(GraphQl.q183Doc,
      variables = """{"all": true}""",
      operationName = Some("Pick")).fold(m => fail(m), identity)
    assert(srAll.fields === Seq("event_id", "user_id", "value"))
    // fully-skipped stream selection: valid (the mutation no-op
    // contract) — pages still cut, no selected columns
    val none = GraphQl.parseStream(
      """subscription {
        |  events_stream(cursor: {initial_value: {event_id: null}},
        |                batch_size: 5) {
        |    event_id @include(if: false)
        |  }
        |}""".stripMargin).fold(m => fail(m), identity)
    assert(none.fields.isEmpty)
    // ...but an empty selection SET in text is still malformed
    assert(GraphQl.parseStream(
      """subscription {
        |  events_stream(cursor: {initial_value: {event_id: null}},
        |                batch_size: 5) { }
        |}""".stripMargin).isLeft)
    // malformed directives on stream fields are loud even when the
    // other directive excludes (no short-circuit)
    GraphQl.parseStream(
      """subscription {
        |  events_stream(cursor: {initial_value: {event_id: null}},
        |                batch_size: 5) {
        |    event_id @include(if: false) @skip(if: 1)
        |  }
        |}""".stripMargin) match {
      case Left(m) => assert(m.contains("@skip"), m)
      case Right(r) => fail(s"parsed: $r")
    }
    // root aggregates: count toggles off, sum stays; the nodes arm
    // and its fields gate too
    val ar = GraphQl.parseRootAggregate(
      """query T($all: Boolean!) {
        |  orders_aggregate(where: {o_orderstatus: {_eq: "O"}}) {
        |    aggregate {
        |      count @include(if: $all)
        |      sum { o_totalprice }
        |    }
        |    nodes @include(if: $all) { o_orderkey }
        |  }
        |}""".stripMargin,
      variables = """{"all": false}""").fold(m => fail(m), identity)
    assert(ar.aggs.map(_.as) === Seq("sum_o_totalprice"))
    assert(ar.nodes.isEmpty)
    // per-field toggles inside a sum block
    val ar2 = GraphQl.parseRootAggregate(
      """{
        |  orders_aggregate {
        |    aggregate { sum { o_totalprice @skip(if: true)
        |                      o_shippriority } }
        |    nodes { o_orderkey @skip(if: true) o_orderstatus }
        |  }
        |}""".stripMargin).fold(m => fail(m), identity)
    assert(ar2.aggs.map(_.as) === Seq("sum_o_shippriority"))
    assert(ar2.nodes === Seq("o_orderstatus"))
    // an EXCLUDED aggregate-relationship field still compiles its
    // arguments — malformed where/limit surface at parse, not when
    // the flag flips (the conditionalKeep contract)
    GraphQl.parse(
      """{
        |  customer {
        |    c_custkey
        |    orders_aggregate(where: {nope: {_bogus: 1}})
        |        @include(if: false) {
        |      aggregate { count }
        |    }
        |  }
        |}""".stripMargin) match {
      case Left(m) => assert(m.contains("_bogus") || m.contains("nope"), m)
      case Right(r) => fail(s"parsed: $r")
    }
    // RELATIONSHIP aggregates gate their arms, functions, and nodes
    // fields the same way the root grammar does (directive parity is
    // symmetric across the two aggregate surfaces)
    val relAgg = GraphQl.parse(
      """{
        |  customer(where: {c_custkey: {_lte: 5}}) {
        |    c_custkey
        |    orders_aggregate {
        |      aggregate {
        |        count @skip(if: true)
        |        sum @include(if: true) { o_totalprice }
        |      }
        |      nodes @include(if: true) {
        |        o_orderkey
        |        o_orderstatus @skip(if: true)
        |      }
        |    }
        |  }
        |}""".stripMargin).fold(m => fail(m), identity)
    assert(relAgg.aggRels.head.aggs.map(_.as) === Seq("sum_o_totalprice"))
    assert(relAgg.aggRels.head.nodes === Seq("o_orderkey"))
    // aggregate arm excluded, nodes kept: the legal nodes-only body
    val relAggNodes = GraphQl.parse(
      """{
        |  customer(where: {c_custkey: {_lte: 5}}) {
        |    c_custkey
        |    orders_aggregate {
        |      aggregate @skip(if: true) { count }
        |      nodes { o_orderkey }
        |    }
        |  }
        |}""".stripMargin).fold(m => fail(m), identity)
    assert(relAggNodes.aggRels.head.aggs.isEmpty &&
      relAggNodes.aggRels.head.nodes === Seq("o_orderkey"))
    // BOTH arms excluded reduces to a shape the aggregate surface
    // refuses by design — the AggRel contract speaking, not a
    // directive error (the parseRootAggregate scaladoc's composition)
    GraphQl.parse(
      """{
        |  customer(where: {c_custkey: {_lte: 5}}) {
        |    c_custkey
        |    orders_aggregate {
        |      aggregate @skip(if: true) { count }
        |      nodes @include(if: false) { o_orderkey }
        |    }
        |  }
        |}""".stripMargin) match {
      case Left(m) => assert(m.contains("no aggregates"), m)
      case Right(r) => fail(s"parsed: $r")
    }
  }

  private def parsed2(q: String, vars: String): Request =
    GraphQl.parse(q, variables = vars) match {
      case Right(r) => r
      case Left(m) => fail(s"did not parse: $m\n$q")
    }

  // ---- introspection -------------------------------------------------

  private val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  private def introspect(doc: String)
      : com.fasterxml.jackson.databind.JsonNode =
    GraphQl.serveIntrospection(spark, sf("sf0.001"), doc) match {
      case Right(json) => mapper.readTree(json)
      case Left(m) => fail(s"introspection did not serve: $m")
    }

  test("the standard graphql-js IntrospectionQuery serves — the " +
      "document every GraphiQL/Apollo client opens with") {
    val doc = """
      query IntrospectionQuery {
        __schema {
          queryType { name }
          mutationType { name }
          subscriptionType { name }
          types { ...FullType }
          directives { name description locations args { ...InputValue } }
        }
      }
      fragment FullType on __Type {
        kind name description
        fields(includeDeprecated: true) {
          name description
          args { ...InputValue }
          type { ...TypeRef }
          isDeprecated deprecationReason
        }
        inputFields { ...InputValue }
        interfaces { ...TypeRef }
        enumValues(includeDeprecated: true) {
          name description isDeprecated deprecationReason
        }
        possibleTypes { ...TypeRef }
      }
      fragment InputValue on __InputValue {
        name description type { ...TypeRef } defaultValue
      }
      fragment TypeRef on __Type {
        kind name
        ofType { kind name
          ofType { kind name
            ofType { kind name
              ofType { kind name } } } }
      }"""
    val schema = introspect(doc).get("data").get("__schema")
    assert(schema.get("queryType").get("name").asText === "query_root")
    assert(schema.get("mutationType").get("name").asText ===
      "mutation_root")
    assert(schema.get("subscriptionType").get("name").asText ===
      "subscription_root")
    // the served directive surface (r18): the spec's conditional
    // pair at all three executable locations plus the three
    // engine-specific FIELD directives — an empty array here made
    // conformant clients conclude @include/@skip were unsupported
    import scala.jdk.CollectionConverters._
    val dirs = schema.get("directives").elements().asScala
      .map(d => d.get("name").asText -> d).toMap
    assert(dirs.keySet === Set("include", "skip", "fmt", "cast", "join"))
    assert(dirs("skip").get("locations").elements().asScala
      .map(_.asText).toSeq ===
      Seq("FIELD", "FRAGMENT_SPREAD", "INLINE_FRAGMENT"))
    val joinArg = dirs("join").get("args").elements().asScala.next()
    assert(joinArg.get("name").asText === "type" &&
      joinArg.get("defaultValue").asText === "\"left\"")
    val ifArg = dirs("include").get("args").elements().asScala.next()
    assert(ifArg.get("type").get("kind").asText === "NON_NULL" &&
      ifArg.get("type").get("ofType").get("name").asText === "Boolean")
    val types = schema.get("types").elements().asScala.toSeq
    val byName = types.map(t => t.get("name").asText -> t).toMap
    // every tracked table is an OBJECT type; scalars are SCALARs
    graft.Tables.names.foreach(t =>
      assert(byName(t).get("kind").asText === "OBJECT", t))
    Seq("bigint", "Int", "String", "float8", "timestamp", "Float")
      .foreach(sc => assert(byName(sc).get("kind").asText === "SCALAR",
        sc))
    // types sort by name (the documented canonical order)
    assert(types.map(_.get("name").asText) ===
      types.map(_.get("name").asText).sorted)
    val cust = byName("customer")
    val fields = cust.get("fields").elements().asScala.toSeq
      .map(f => f.get("name").asText -> f).toMap
    // a scalar column: named-type leaf, parquet ordinal order first
    assert(fields("c_custkey").get("type").get("kind").asText ===
      "SCALAR")
    assert(fields("c_custkey").get("type").get("name").asText ===
      "bigint")
    // the array relationship unwraps [orders!]! through ofType
    val rel = fields("orders").get("type")
    assert(rel.get("kind").asText === "NON_NULL")
    assert(rel.get("ofType").get("kind").asText === "LIST")
    assert(rel.get("ofType").get("ofType").get("kind").asText ===
      "NON_NULL")
    assert(rel.get("ofType").get("ofType").get("ofType")
      .get("name").asText === "orders")
    // the object relationship is the bare nullable type
    assert(fields("nation").get("type").get("kind").asText === "OBJECT")
    assert(fields("nation").get("type").get("name").asText === "nation")
    // embeddings' vector column renders [Float!]
    val emb = byName("embeddings").get("fields").elements().asScala
      .toSeq.map(f => f.get("name").asText -> f).toMap
    val vec = emb("embedding").get("type")
    assert(vec.get("kind").asText === "LIST")
    assert(vec.get("ofType").get("kind").asText === "NON_NULL")
    assert(vec.get("ofType").get("ofType").get("name").asText ===
      "Float")
    // mutation_root advertises the verbs for keyed tables only
    val mutFields = byName("mutation_root").get("fields").elements()
      .asScala.map(_.get("name").asText).toSet
    assert(mutFields.contains("insert_customer"))
    assert(mutFields.contains("delete_orders"))
    assert(!mutFields.contains("insert_lineitem")) // no tracked key
    // by_pk fields exist exactly for keyed tables
    val qFields = byName("query_root").get("fields").elements()
      .asScala.map(_.get("name").asText).toSet
    assert(qFields.contains("customer_by_pk"))
    assert(!qFields.contains("lineitem_by_pk"))
    // SCALAR types answer null fields/interfaces (spec nullability)
    assert(byName("bigint").get("fields").isNull)
    assert(byName("bigint").get("interfaces").isNull)
  }

  test("__type(name:), __typename root, and loud introspection errors") {
    val t = introspect("""{ __type(name: "orders") {
        name fields { name } } }""").get("data").get("__type")
    assert(t.get("name").asText === "orders")
    import scala.jdk.CollectionConverters._
    val fnames = t.get("fields").elements().asScala
      .map(_.get("name").asText).toSeq
    // parquet-ordinal columns first, then the name-sorted rels
    assert(fnames.take(2) === Seq("o_orderkey", "o_custkey"))
    assert(fnames.contains("items") && fnames.contains("customer"))
    // unknown type answers null, not an error (spec behavior)
    assert(introspect("""{ __type(name: "nope") { name } }""")
      .get("data").get("__type").isNull)
    // root __typename answers the operation type
    assert(introspect("{ __typename }").get("data")
      .get("__typename").asText === "query_root")
    // aliases reach the response keys
    assert(introspect("""{ s: __schema { q: queryType { n: name } } }""")
      .get("data").get("s").get("q").get("n").asText === "query_root")
    // a data field at the introspection root is loud
    GraphQl.serveIntrospection(spark, sf("sf0.001"),
      "{ customer { c_custkey } }") match {
      case Left(m) => assert(m.contains("not an introspection root"))
      case Right(r) => fail(s"served: $r")
    }
    // an unknown meta-field is loud, naming the selection
    GraphQl.serveIntrospection(spark, sf("sf0.001"),
      "{ __schema { nope } }") match {
      case Left(m) => assert(m.contains("nope"))
      case Right(r) => fail(s"served: $r")
    }
    // operation variables have no meaning in the static meta answer
    GraphQl.serveIntrospection(spark, sf("sf0.001"),
      "query Q($x: Boolean!) { __typename }") match {
      case Left(m) => assert(m.contains("variables"))
      case Right(r) => fail(s"served: $r")
    }
  }

  test("__typename serves as a constant type-name column at the root, " +
      "in nested selections, and under by_pk") {
    val rows = QueryBuilder.run(spark, sf("sf0.001"), parsed(
      """{ customer(order_by: [{c_custkey: asc}], limit: 2) {
        |    __typename c_custkey } }""".stripMargin)).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("customer", "customer"))
    assert(rows.map(_.getLong(1)).toSeq === Seq(0L, 1L))
    val nested = QueryBuilder.run(spark, sf("sf0.001"), parsed(
      """{ customer(where: {c_custkey: {_eq: 1}}) {
        |    c_custkey orders { __typename k: o_orderkey } } }"""
        .stripMargin)).collect()
    assert(nested.length === 1)
    assert(nested.head.getString(1).contains("\"__typename\":\"orders\""))
    val byPk = QueryBuilder.run(spark, sf("sf0.001"), parsed(
      """{ customer_by_pk(c_custkey: 3) { __typename c_custkey } }"""))
      .collect()
    assert(byPk.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("customer", 3L)))
  }

  test("field aliases: root scalars and stream fields answer under " +
    "the response key; duplicates refuse; printers and codec " +
    "round-trip") {
    val r = parsed(
      """{ customer(order_by: [{c_acctbal: desc}, {c_custkey: asc}],
        |  limit: 3) { id: c_custkey balance: c_acctbal c_mktsegment
        |  t: __typename } }""".stripMargin)
    assert(r.fields === Seq("id", "balance", "c_mktsegment", "t"))
    assert(r.fieldAs === Map("id" -> "c_custkey",
      "balance" -> "c_acctbal", "t" -> "__typename"))
    assert(GraphQl.parse(GraphQl.render(r)) === Right(r),
      s"alias request did not round-trip:\n${GraphQl.render(r)}")
    assert(RequestCodec.parse(RequestCodec.render(r)) === Right(r))
    // a self-alias is the bare field (no fieldAs entry to round-trip)
    val r2 = parsed("{ region { r_regionkey: r_regionkey } }")
    assert(r2.fields === Seq("r_regionkey") && r2.fieldAs === Map.empty)
    // duplicate response keys refuse loudly (spec rule 5.3.2 — the
    // flat-columns answer would silently drop one selection)
    GraphQl.parse("{ region { k: r_regionkey k: r_name } }") match {
      case Left(m) => assert(m.contains("duplicate response key"))
      case Right(x) => fail(s"parsed: $x")
    }
    // execution: alias names out, order_by resolving the SOURCE
    // column the alias renamed away (Hasura orders by table columns)
    val df = GraphQl.q197AliasRead(spark, sf("sf0.001"))
    assert(df.columns.toSeq === Seq("id", "balance", "c_mktsegment", "t"))
    val rows = df.collect()
    assert(rows.map(_.getDouble(1)).toSeq ===
      rows.map(_.getDouble(1)).sortBy(-_).toSeq,
      "order_by on the renamed-away source column must still sort")
    assert(rows.forall(_.getString(3) == "customer"))
    // stream: aliases land in fieldAs (cursor column itself aliased),
    // and the stream printer round-trips them
    val sr = GraphQl.parseStream(GraphQl.q198Doc)
      .fold(m => fail(s"q198 did not parse: $m"), identity)
    assert(sr.fields === Seq("id", "kind", "v"))
    assert(sr.fieldAs === Map("id" -> "event_id",
      "kind" -> "event_type", "v" -> "value"))
    assert(GraphQl.parseStream(GraphQl.renderStream(sr)) === Right(sr))
    GraphQl.parseStream(
      """subscription { events_stream(
        |  cursor: {initial_value: {event_id: null}}, batch_size: 3) {
        |  k: event_id k: user_id } }""".stripMargin) match {
      case Left(m) => assert(m.contains("duplicate response key"))
      case Right(x) => fail(s"parsed: $x")
    }
    // mutations: aliases on returning rows, by_pk rows, and the
    // insert_one row shape (whose FIRST name may be the alias) —
    // and the printer round-trips all three
    val fs = GraphQl.parseMutationFields(
      """mutation {
        |  update_customer(where: {c_custkey: {_eq: 3}},
        |                  _set: {c_mktsegment: "X"}) {
        |    affected_rows
        |    returning { id: c_custkey c_mktsegment }
        |  }
        |  delete_customer_by_pk(c_custkey: 3) { gone: c_custkey }
        |  insert_customer_one(object: {c_custkey: 777}) {
        |    id: c_custkey c_acctbal
        |  }
        |}""".stripMargin)
      .fold(m => fail(s"mutation aliases did not parse: $m"), identity)
    assert(fs(0).returning === Some(Seq("id", "c_mktsegment")))
    assert(fs(0).returningAs === Map("id" -> "c_custkey"))
    assert(fs(1).returning === Some(Seq("gone")) &&
      fs(1).returningAs === Map("gone" -> "c_custkey"))
    assert(fs(2).returning === Some(Seq("id", "c_acctbal")) &&
      fs(2).returningAs === Map("id" -> "c_custkey") && fs(2).single)
    assert(GraphQl.parseMutationFields(
      GraphQl.renderMutationFields(fs)) === Right(fs),
      s"mutation aliases did not round-trip:\n${
        GraphQl.renderMutationFields(fs)}")
    GraphQl.parseMutationFields(
      """mutation { update_customer(where: {c_custkey: {_eq: 1}},
        |  _set: {c_mktsegment: "X"}) {
        |  returning { k: c_custkey k: c_name } } }""".stripMargin) match {
      case Left(m) => assert(m.contains("duplicate response key"))
      case Right(x) => fail(s"parsed: $x")
    }
  }
  test("spec 5.3.2 field merging: identical repeated selections " +
    "collapse at every level; a re-bound response key stays loud") {
    // fragment-composed documents legitimately repeat selections
    val r = GraphQl.parse(
      "{ customer { c_custkey c_custkey id: c_custkey id: c_custkey " +
        "orders { k: o_orderkey k: o_orderkey } } }")
      .fold(m => fail(m), identity)
    assert(r.fields === Seq("c_custkey", "id"))
    assert(r.nested.head.fields.map(_.as) === Seq("k"))
    // same response key bound to DIFFERENT sources: still an error
    assert(GraphQl.parse("{ customer { id: c_custkey id: c_name } }")
      .fold(identity, x => fail(s"parsed: $x"))
      .contains("duplicate response key"))
    assert(GraphQl.parse(
      "{ customer { c_custkey orders { k: o_orderkey k: o_custkey } } }")
      .fold(identity, x => fail(s"parsed: $x"))
      .contains("duplicate response key"))
    // streams merge identically
    val sr = GraphQl.parseStream(
      "subscription { events_stream(cursor: {initial_value: " +
        "{event_id: 0}}, batch_size: 5) { event_id event_id } }")
      .fold(m => fail(m), identity)
    assert(sr.fields === Seq("event_id"))
  }
  test("introspection advertises the ARGUMENT surface: <t>_aggregate " +
    "with its arms, bool_exp/order_by input objects, select-column " +
    "and order_by enums, args on root fields (r17)") {
    import scala.jdk.CollectionConverters._
    val doc = """{ __schema { types { name kind
      |  fields { name args { name type { kind name ofType { kind name
      |    ofType { kind name } } } } type { kind name } }
      |  inputFields { name type { kind name } }
      |  enumValues { name } } } }""".stripMargin
    val schema = introspect(doc).get("data").get("__schema")
    val byName = schema.get("types").elements().asScala.toSeq
      .map(t => t.get("name").asText -> t).toMap
    // the aggregate family
    val qf = byName("query_root").get("fields").elements().asScala
      .map(f => f.get("name").asText -> f).toMap
    assert(qf.contains("orders_aggregate"))
    val aggT = byName("orders_aggregate")
    assert(aggT.get("kind").asText === "OBJECT")
    val aggFields = aggT.get("fields").elements().asScala
      .map(_.get("name").asText).toSet
    assert(aggFields === Set("aggregate", "nodes"))
    val arms = byName("orders_aggregate_fields").get("fields")
      .elements().asScala.map(_.get("name").asText).toSet
    assert(arms === Set("count", "sum", "avg", "stddev", "variance",
      "min", "max"))
    // sum arm carries NUMERIC columns at their own scalar; avg floats
    val sumF = byName("orders_sum_fields").get("fields").elements()
      .asScala.map(f => f.get("name").asText ->
        f.get("type").get("name").asText).toMap
    assert(sumF("o_totalprice") === "float8" &&
      sumF("o_orderkey") === "bigint")
    assert(!sumF.contains("o_orderstatus")) // strings don't sum
    // args on the root field: where/order_by/limit/offset/distinct_on
    val args = qf("customer").get("args").elements().asScala
      .map(a => a.get("name").asText -> a).toMap
    assert(args.keySet === Set("where", "order_by", "limit", "offset",
      "distinct_on"))
    assert(args("where").get("type").get("name").asText ===
      "customer_bool_exp")
    // by_pk advertises its key argument at the key's scalar, non-null
    val pk = qf("customer_by_pk").get("args").elements().asScala.toSeq
    assert(pk.map(_.get("name").asText) === Seq("c_custkey"))
    assert(pk.head.get("type").get("kind").asText === "NON_NULL" &&
      pk.head.get("type").get("ofType").get("name").asText === "bigint")
    // bool_exp: combinators + typed column comparisons + rel preds
    val be = byName("customer_bool_exp")
    assert(be.get("kind").asText === "INPUT_OBJECT")
    assert(be.get("fields").isNull) // spec: INPUT_OBJECT has no fields
    val beF = be.get("inputFields").elements().asScala
      .map(f => f.get("name").asText ->
        Option(f.get("type").get("name")).filterNot(_.isNull)
          .map(_.asText).getOrElse("")).toMap
    assert(beF.contains("_and") && beF.contains("_or") &&
      beF("_not") === "customer_bool_exp")
    assert(beF("c_custkey") === "bigint_comparison_exp")
    assert(beF("orders") === "orders_bool_exp") // relationship pred
    assert(beF("nation") === "nation_bool_exp") // object-rel pred
    // String comparisons carry the pattern family; the deprecated
    // legacy SIMILAR TO spellings are HIDDEN at the spec default
    // (r20 — includeDeprecated: true reveals them, q224's gate)
    val strC = byName("String_comparison_exp").get("inputFields")
      .elements().asScala.map(_.get("name").asText).toSet
    assert(Set("_eq", "_in", "_is_null", "_like", "_ilike",
      "_regex", "_iregex", "_nregex").subsetOf(strC))
    assert(!strC.contains("_similar") && !strC.contains("_nsimilar"))
    val numC = byName("bigint_comparison_exp").get("inputFields")
      .elements().asScala.map(_.get("name").asText).toSet
    assert(!numC.contains("_like") && numC.contains("_gte"))
    // order_by input + enums
    val ob = byName("customer_order_by")
    assert(ob.get("kind").asText === "INPUT_OBJECT")
    assert(ob.get("inputFields").elements().asScala
      .forall(_.get("type").get("name").asText === "order_by"))
    val obe = byName("order_by").get("enumValues").elements().asScala
      .map(_.get("name").asText).toSeq
    assert(obe === Seq("asc", "asc_nulls_first", "asc_nulls_last",
      "desc", "desc_nulls_first", "desc_nulls_last"))
    val selCols = byName("customer_select_column").get("enumValues")
      .elements().asScala.map(_.get("name").asText).toSet
    assert(selCols.contains("c_custkey") && selCols.contains("c_name"))
    // relationship fields on table types carry the child's args, and
    // the aggregate twin rides next to the relationship
    val cust = byName("customer").get("fields").elements().asScala
      .map(f => f.get("name").asText -> f).toMap
    assert(cust.contains("orders_aggregate"))
    assert(cust("orders").get("args").elements().asScala
      .map(_.get("name").asText).toSet.contains("where"))
  }
  test("introspection advertises the WRITE-side argument surface: all " +
    "seven verb spellings with their args, insert/set/inc inputs, " +
    "nested-insert data arms, on_conflict + constraint/update_column " +
    "enums, pk_columns (r17)") {
    import scala.jdk.CollectionConverters._
    val doc = """{ __schema { types { name kind
      |  fields { name args { name type { kind name ofType { kind name
      |    ofType { kind name } } } } }
      |  inputFields { name type { kind name ofType { kind name } } }
      |  enumValues { name } } } }""".stripMargin
    val schema = introspect(doc).get("data").get("__schema")
    val byName = schema.get("types").elements().asScala.toSeq
      .map(t => t.get("name").asText -> t).toMap
    val mf = byName("mutation_root").get("fields").elements().asScala
      .map(f => f.get("name").asText -> f).toMap
    // all seven spellings for a keyed table
    assert(Set("insert_customer", "insert_customer_one",
      "update_customer", "update_customer_by_pk",
      "update_customer_many", "delete_customer",
      "delete_customer_by_pk").subsetOf(mf.keySet))
    def argsOf(f: String) = mf(f).get("args").elements().asScala
      .map(a => a.get("name").asText -> a).toMap
    // insert takes [customer_insert_input!]! + on_conflict
    val ins = argsOf("insert_customer")
    assert(ins.keySet === Set("objects", "on_conflict"))
    // update carries where/_set/_inc; by_pk swaps where for pk_columns
    assert(argsOf("update_customer").keySet ===
      Set("where", "_set", "_inc"))
    assert(argsOf("update_customer_by_pk").keySet ===
      Set("pk_columns", "_set", "_inc"))
    assert(argsOf("delete_customer_by_pk").keySet === Set("c_custkey"))
    assert(argsOf("update_customer_many").keySet === Set("updates"))
    // insert_input: columns at their scalar + nested-insert data arms
    // for tracked KEYED child relationships
    val ii = byName("customer_insert_input").get("inputFields")
      .elements().asScala.map(f => f.get("name").asText ->
        Option(f.get("type").get("name")).filterNot(_.isNull)
          .map(_.asText).getOrElse("")).toMap
    assert(ii("c_custkey") === "bigint")
    assert(ii("orders") === "orders_arr_rel_insert_input")
    val arr = byName("orders_arr_rel_insert_input").get("inputFields")
      .elements().asScala.map(_.get("name").asText).toSet
    assert(arr === Set("data", "on_conflict"))
    // OBJECT-relationship (parent-side) insert arms (r18): the
    // order's `customer` advertises a single-object data input
    val oi = byName("orders_insert_input").get("inputFields")
      .elements().asScala.map(f => f.get("name").asText ->
        Option(f.get("type").get("name")).filterNot(_.isNull)
          .map(_.asText).getOrElse("")).toMap
    assert(oi("customer") === "customer_obj_rel_insert_input")
    val objArm = byName("customer_obj_rel_insert_input")
      .get("inputFields").elements().asScala
      .map(f => f.get("name").asText -> f).toMap
    assert(objArm.keySet === Set("data", "on_conflict"))
    // data is NON_NULL of the insert_input OBJECT, never a list
    val dataT = objArm("data").get("type")
    assert(dataT.get("kind").asText === "NON_NULL" &&
      dataT.get("ofType").get("name").asText === "customer_insert_input")
    // on_conflict: constraint enum (the tracked pkey) + update_columns
    // (never the key — the engine rejects it as an update_column)
    val oc = byName("customer_on_conflict").get("inputFields")
      .elements().asScala.map(_.get("name").asText).toSet
    assert(oc === Set("constraint", "update_columns", "where"))
    assert(byName("customer_constraint").get("enumValues").elements()
      .asScala.map(_.get("name").asText).toSeq === Seq("customer_pkey"))
    val uc = byName("customer_update_column").get("enumValues")
      .elements().asScala.map(_.get("name").asText).toSet
    assert(uc.contains("c_name") && !uc.contains("c_custkey"))
    // set/inc inputs exclude the KEY column — the engine rejects
    // every _set/_inc naming it, so advertising it would be the
    // advertised-vs-servable drift this surface exists to prevent
    val set = byName("customer_set_input").get("inputFields")
      .elements().asScala.map(_.get("name").asText).toSet
    assert(!set.contains("c_custkey") && set.contains("c_name"))
    val inc = byName("customer_inc_input").get("inputFields")
      .elements().asScala.map(_.get("name").asText).toSet
    assert(inc.contains("c_acctbal") && !inc.contains("c_name") &&
      !inc.contains("c_custkey"))
    // a table whose only NUMERIC column is its key advertises no _inc
    assert(!byName.contains("region_inc_input"))
    assert(argsOf("update_region").keySet === Set("where", "_set"))
    // unkeyed tables advertise NO write surface
    assert(!byName.contains("lineitem_insert_input") &&
      !mf.contains("insert_lineitem"))
    // subscription_root carries the read surface PLUS `_stream`
    // cursor fields with Hasura's input shapes
    val sf2 = byName("subscription_root").get("fields").elements()
      .asScala.map(f => f.get("name").asText -> f).toMap
    assert(sf2.contains("orders") && sf2.contains("orders_stream"))
    assert(sf2("orders_stream").get("args").elements().asScala
      .map(_.get("name").asText).toSet ===
      Set("cursor", "batch_size", "where"))
    val scv = byName("orders_stream_cursor_value_input")
      .get("inputFields").elements().asScala
      .map(_.get("name").asText).toSet
    assert(scv.contains("o_orderkey"))
    val sci = byName("orders_stream_cursor_input").get("inputFields")
      .elements().asScala.map(_.get("name").asText).toSet
    assert(sci === Set("initial_value", "ordering"))
    assert(byName("cursor_ordering").get("enumValues").elements()
      .asScala.map(_.get("name").asText).toSeq === Seq("ASC", "DESC"))
    // a role granted ONLY the key column sees no update family at all
    // (nothing is updatable) and no on_conflict — but keeps insert
    // and delete
    val narrowPolicy = Permissions.Policy(Map(
      ("keyonly", "orders") -> Permissions.TablePerm(
        columns = Some(Set("o_orderkey")))))
    val nr = Permissions.serveIntrospectionAs(spark, sf("sf0.001"),
      "keyonly", narrowPolicy, doc)
      .fold(m => fail(m), identity)
    val nTypes = mapper.readTree(nr).get("data").get("__schema")
      .get("types").elements().asScala.toSeq
      .map(t => t.get("name").asText -> t).toMap
    val nMf = nTypes("mutation_root").get("fields").elements().asScala
      .map(_.get("name").asText).toSet
    assert(nMf.contains("insert_orders") &&
      nMf.contains("delete_orders_by_pk"))
    assert(!nMf.contains("update_orders") &&
      !nMf.contains("update_orders_by_pk") &&
      !nMf.contains("update_orders_many"))
    assert(!nTypes.contains("orders_set_input") &&
      !nTypes.contains("orders_on_conflict") &&
      !nTypes.contains("orders_update_column"))
  }
  test("spec 5.3.2 merging on REPEATED arms: duplicate aggregate arms " +
    "merge their fields, identical repeated relationship selections " +
    "collapse, a key reused for a DIFFERENT aggregate refuses loudly") {
    // fragment composition repeats the aggregate arm — fields merge
    val m = parsed("""
      { customer { c_custkey
          orders_aggregate {
            aggregate { count }
            aggregate { s: sum { o_totalprice } } } } }""")
    assert(m.aggRels.size === 1)
    assert(m.aggRels.head.aggs.map(_.as) === Seq("count", "s"))
    // IDENTICAL repeated arms collapse (no duplicate-key refusal)
    val m2 = parsed("""
      { customer { c_custkey
          orders_aggregate { aggregate { count } aggregate { count } } } }""")
    assert(m2.aggRels.head.aggs.map(_.as) === Seq("count"))
    // one key, two different aggregates: loud, never last-wins
    val e = err("""
      { customer { c_custkey
          orders_aggregate {
            aggregate { n: count }
            aggregate { n: sum { o_totalprice } } } } }""")
    assert(e.contains("two different aggregates"))
    // the ROOT aggregate parser shares the merge discipline
    val ra = GraphQl.parseRootAggregate(
      "{ orders_aggregate { aggregate { count } " +
        "aggregate { s: sum { o_totalprice } } } }")
      .fold(m => fail(m), identity)
    assert(ra.aggs.map(_.as) === Seq("count", "s"))
    // identical relationship selections spread twice merge into ONE
    // attach (5.3.2's fragment-composed read), root and stream alike
    val r1 = parsed("""
      fragment F on customer { orders { k: o_orderkey } }
      { customer { c_custkey ...F ...F } }""")
    assert(r1.nested.size === 1)
    val sr = GraphQl.parseStream("""
      fragment F on orders { items { ln: l_linenumber } }
      subscription { orders_stream(cursor: {initial_value:
        {o_orderkey: 0}}, batch_size: 5) { o_orderkey ...F ...F } }""")
      .fold(m => fail(m), identity)
    assert(sr.nested.size === 1)
  }
  test("introspection fragment TYPE CONDITIONS check against the " +
    "static meta type: matching splices, known-other skips, unknown " +
    "is loud (r17 — the last documented scope cut)") {
    import scala.jdk.CollectionConverters._
    // the standard IntrospectionQuery shape: a named fragment on
    // __Type spread at a __Type site serves normally
    val ok = introspect("""
      fragment Brief on __Type { name kind }
      { __schema { types { ...Brief } } }""")
    val names = ok.get("data").get("__schema").get("types")
      .elements().asScala.map(_.get("name").asText).toSet
    assert(names.contains("customer") && names.contains("query_root"))
    // inline form, same site
    val inl = introspect("{ __schema { types { ... on __Type { name } " +
      "kind } } }")
    val first = inl.get("data").get("__schema").get("types")
      .elements().asScala.next()
    assert(first.has("name") && first.has("kind"))
    // a KNOWN but non-applicable condition contributes nothing (the
    // spec's non-applicable fragment): __Field can never be a __Type
    val skip = introspect("{ __schema { types { kind " +
      "... on __Field { name } } } }")
    val t0 = skip.get("data").get("__schema").get("types")
      .elements().asScala.next()
    assert(t0.has("kind") && !t0.has("name"))
    // an UNKNOWN condition is loud, both spread forms
    assert(GraphQl.serveIntrospection(spark, sf("sf0.001"),
      "{ __schema { types { ... on __Bogus { name } } } }")
      .fold(identity, r => fail(s"served $r"))
      .contains("unknown type"))
    assert(GraphQl.serveIntrospection(spark, sf("sf0.001"),
      """fragment F on nope { name }
        { __schema { types { ...F } } }""")
      .fold(identity, r => fail(s"served $r"))
      .contains("unknown type"))
  }
  test("MULTI-ROOT documents (r17): aliases key the roots, identical " +
    "repeats collapse, re-bound keys and all-excluded documents are " +
    "loud, variables span roots, parse() names the right entry point") {
    // same table twice under distinct aliases + a second table
    val roots = GraphQl.parseRoots("""
      query ($cap: bigint) {
        a: customer(where: {c_custkey: {_lte: $cap}}) { c_custkey }
        b: customer(where: {c_custkey: {_gt: $cap}}, limit: 3) { c_name }
        orders(limit: 2) { o_orderkey }
      }""", variables = """{"cap": 10}""")
      .fold(m => fail(m), identity)
    assert(roots.map(_._1) === Seq("a", "b", "orders"))
    def read(op: GraphQl.RootOp): Request = op match {
      case GraphQl.ReadRoot(r) => r
      case other => fail(s"expected a read root, got $other")
    }
    assert(read(roots(0)._2).table === "customer" &&
      read(roots(2)._2).table === "orders")
    // the variable bound only through roots still passes the
    // declared-and-used check (usage is document-wide)
    assert(read(roots(1)._2).limit === Some(3))
    // identical duplicate roots collapse (5.3.2 on roots)
    val dup = GraphQl.parseRoots(
      "{ customer(limit: 1) { c_custkey } " +
        "customer(limit: 1) { c_custkey } }")
      .fold(m => fail(m), identity)
    assert(dup.size === 1)
    // one key, two DIFFERENT roots: loud
    assert(GraphQl.parseRoots(
      "{ customer(limit: 1) { c_custkey } customer { c_name } }")
      .fold(identity, r => fail(s"accepted as $r"))
      .contains("duplicate root response key"))
    // root directives gate whole roots; all-excluded is loud
    val gated = GraphQl.parseRoots(
      "{ a: customer(limit: 1) @include(if: false) { c_custkey } " +
        "b: orders(limit: 1) { o_orderkey } }")
      .fold(m => fail(m), identity)
    assert(gated.map(_._1) === Seq("b"))
    assert(GraphQl.parseRoots(
      "{ a: customer(limit: 1) @skip(if: true) { c_custkey } }")
      .fold(identity, r => fail(s"accepted as $r"))
      .contains("every root field is excluded"))
    // the one-root API refuses multi-root docs BY NAME
    assert(GraphQl.parse(
      "{ customer { c_custkey } orders { o_orderkey } }")
      .fold(identity, r => fail(s"accepted as $r"))
      .contains("parseRoots"))
    // a by_pk root batches like any other (q208's shape) under its
    // OWN RootOp (r18 — Hasura's by_pk response is a nullable object,
    // not a list); the multi and single paths compile the same Request
    val pk = GraphQl.parseRoots(
      "{ one: customer_by_pk(c_custkey: 7) { c_name } }")
      .fold(m => fail(m), identity)
    assert(pk.head._1 === "one")
    pk.head._2 match {
      case GraphQl.ByPkRoot(r) =>
        assert(r === parsed("{ customer_by_pk(c_custkey: 7) { c_name } }"))
      case other => fail(s"expected a by_pk root, got $other")
    }
    // an AGGREGATE root batches next to reads (the read+count
    // dashboard shape); parse() names the right entry points
    val withAgg = GraphQl.parseRoots(
      "{ customer(limit: 1) { c_custkey } " +
        "n: orders_aggregate(where: {o_orderstatus: {_eq: \"O\"}}) " +
        "{ aggregate { count } } }")
      .fold(m => fail(m), identity)
    assert(withAgg.map(_._1) === Seq("customer", "n"))
    withAgg(1)._2 match {
      case GraphQl.AggRoot(a) =>
        assert(a.table === "orders" && a.aggs.map(_.as) === Seq("count"))
      case other => fail(s"expected an aggregate root, got $other")
    }
    assert(GraphQl.parse("{ orders_aggregate { aggregate { count } } }")
      .fold(identity, r => fail(s"accepted as $r"))
      .contains("parseRootAggregate"))
  }
  test("directives ON spreads (r18): @include/@skip gate named and " +
    "inline fragment spreads (the spec's FRAGMENT_SPREAD / " +
    "INLINE_FRAGMENT locations); unknown spread directives are loud") {
    val doc = """
      fragment Extra on customer { c_name }
      query Q($more: Boolean!) {
        customer(limit: 1) { c_custkey ...Extra @include(if: $more) }
      }"""
    def fieldsOf(vars: String): Seq[String] =
      GraphQl.parse(doc, variables = vars).fold(m => fail(m), _.fields)
    assert(fieldsOf("""{"more": true}""") === Seq("c_custkey", "c_name"))
    assert(fieldsOf("""{"more": false}""") === Seq("c_custkey"))
    // inline fragments gate the same way
    val inl = GraphQl.parse(
      "{ customer(limit: 1) { c_custkey " +
        "... on customer @skip(if: true) { c_name } } }")
      .fold(m => fail(m), identity)
    assert(inl.fields === Seq("c_custkey"))
    // the excluded spread still counts as USE of the fragment (no
    // false unused-fragment error), and the fragment stays required
    assert(GraphQl.parse(
      "{ customer { c_custkey ...Nope @skip(if: true) } }")
      .fold(identity, r => fail(s"accepted as $r"))
      .contains("undefined fragment"))
    // unknown directives on spreads are loud, never dropped
    assert(GraphQl.parse("""
      fragment Extra on customer { c_name }
      { customer { c_custkey ...Extra @nope } }""")
      .fold(identity, r => fail(s"accepted as $r"))
      .contains("unknown directive"))
    // a FRAGMENT spread only from an excluded body still counts as
    // spread — including transitively (r18 review catch: the same
    // toggle-off bug class as the variable case below)
    val nested = GraphQl.parse("""
      fragment F on customer { ...G }
      fragment G on customer { c_name @skip(if: $h) h2: c_name }
      query Q($inc: Boolean!, $h: Boolean!) {
        customer(limit: 1) { c_custkey ...F @include(if: $inc) }
      }""", variables = """{"inc": false, "h": true}""")
      .fold(m => fail(m), identity)
    assert(nested.fields === Seq("c_custkey"))
    // a variable referenced ONLY inside an excluded body still counts
    // as used — toggling the fragment off must not turn a valid
    // document into an unused-variable error (r18 review catch)
    val varDoc = """
      fragment F on customer { c_name }
      query Q($inc: Boolean!, $cap: bigint!) {
        customer(where: {c_custkey: {_lte: $cap}}) {
          c_custkey
          ... on customer @include(if: $inc) {
            orders(limit: 1) { o_orderkey }
          }
        }
      }"""
    // drop the decoy fragment (unused-fragment check) — inline only
    val varDoc2 = varDoc.linesIterator.filterNot(_.contains("fragment"))
      .mkString("\n")
    val off = GraphQl.parse(varDoc2,
      variables = """{"inc": false, "cap": 10}""")
      .fold(m => fail(m), identity)
    assert(off.nested.isEmpty && off.fields === Seq("c_custkey"))
    // an EXCLUDED row-shaped spread in insert_<t>_one must not commit
    // the single-row response shape (r18 review catch): the following
    // affected_rows stays the wrapper selection
    val one = GraphQl.parseMutationFields("""
      fragment Row on customer { c_name }
      mutation {
        insert_customer_one(object: {c_custkey: 999, c_name: "x"}) {
          ...Row @skip(if: true)
          affected_rows
        }
      }""").fold(m => fail(m), identity)
    assert(one.head.returning === None && !one.head.single)
  }

  test("MULTI-ROOT `_stream` batching (r18): a subscription document " +
    "mixes cursor streams with reads; query operations refuse the " +
    "field; root directives gate; parse() names the entry points") {
    val doc = """
      subscription {
        ev: events_stream(
          cursor: {initial_value: {event_id: 3000}, ordering: ASC},
          batch_size: 7,
          where: {event_type: {_eq: "click"}}) { event_id et: event_type }
        c: customer(limit: 2) { c_custkey }
      }"""
    val roots = GraphQl.parseRoots(doc).fold(m => fail(m), identity)
    assert(roots.map(_._1) === Seq("ev", "c"))
    roots.head._2 match {
      case GraphQl.StreamRoot(sr) =>
        assert(sr.table === "events" && sr.cursorField === "event_id" &&
          sr.initial === Some(3000L) && sr.batchSize === 7 &&
          sr.fields === Seq("event_id", "et") &&
          sr.fieldAs === Map("et" -> "event_type"))
      case other => fail(s"expected a stream root, got $other")
    }
    // a stream root under a QUERY operation refuses the FIELD — the
    // operation kind is the problem, not the batching; the bare
    // `{...}` shorthand is a query too
    for (header <- Seq("query", "")) {
      assert(GraphQl.parseRoots(
        s"$header { ev: events_stream(cursor: {initial_value: " +
          "{event_id: null}}, batch_size: 5) { event_id } " +
          "c: customer(limit: 1) { c_custkey } }")
        .fold(identity, r => fail(s"accepted as $r"))
        .contains("subscription-only"))
    }
    // root @skip gates the stream's contribution — the excluded root
    // still fully compiles (a malformed cursor is loud even when
    // skipped)
    val gated = GraphQl.parseRoots("""
      subscription {
        ev: events_stream(cursor: {initial_value: {event_id: null}},
          batch_size: 5) @skip(if: true) { event_id }
        c: customer(limit: 1) { c_custkey }
      }""").fold(m => fail(m), identity)
    assert(gated.map(_._1) === Seq("c"))
    assert(GraphQl.parseRoots("""
      subscription {
        ev: events_stream(cursor: {initial_value: {a: 1, b: null}},
          batch_size: 5) @skip(if: true) { event_id }
        c: customer(limit: 1) { c_custkey }
      }""").fold(identity, r => fail(s"accepted as $r"))
      .contains("FULL tuple"))
    // the one-root parse() API routes stream documents BY NAME
    assert(GraphQl.parse("""
      subscription {
        events_stream(cursor: {initial_value: {event_id: null}},
          batch_size: 5) { event_id }
      }""").fold(identity, r => fail(s"accepted as $r"))
      .contains("parseStream"))
    // parseStream itself: a fully-@skip-ed ONLY root is a loud
    // no-serve (parity with parse()'s excluded-only-root rule)
    assert(GraphQl.parseStream("""
      subscription {
        events_stream(cursor: {initial_value: {event_id: null}},
          batch_size: 5) @skip(if: true) { event_id }
      }""").fold(identity, r => fail(s"accepted as $r"))
      .contains("excluded by its directives"))
  }
  test("mutation returning takes RELATIONSHIP selections (r17): " +
    "arrays with per-rel args, object rels, relationship-only " +
    "returning; duplicate keys across scalars and rels refuse") {
    val fs = GraphQl.parseMutationFields("""
      mutation {
        update_customer(where: {c_custkey: {_lte: 5}},
                        _set: {c_mktsegment: "X"}) {
          affected_rows
          returning {
            c_custkey
            o: orders(limit: 2, order_by: [{o_orderkey: asc}]) {
              k: o_orderkey }
            nation { n_name }
          }
        }
      }""").fold(m => fail(m), identity)
    assert(fs.head.retNested.map(_.as) === Seq("o", "nation"))
    assert(fs.head.retNested.map(_.single) === Seq(false, true))
    assert(fs.head.retNested.head.limit === Some(2))
    assert(fs.head.returning === Some(Seq("c_custkey")))
    // relationship-only returning is valid (Hasura serves it)
    val relOnly = GraphQl.parseMutationFields("""
      mutation { delete_customer(where: {c_custkey: {_eq: 1}}) {
        returning { orders { o_orderkey } } } }""")
      .fold(m => fail(m), identity)
    assert(relOnly.head.returning === Some(Nil) &&
      relOnly.head.retNested.map(_.as) === Seq("orders"))
    // a scalar alias colliding with a relationship key is loud
    assert(GraphQl.parseMutationFields("""
      mutation { update_customer(where: {c_custkey: {_eq: 1}},
          _set: {c_mktsegment: "X"}) {
        returning { orders: c_custkey orders { o_orderkey } } } }""")
      .fold(identity, r => fail(s"accepted as $r"))
      .contains("duplicate response key"))
    // printer identity COVERS retNested (dropping them would be the
    // silent drift the printer contract forbids)
    assert(GraphQl.parseMutationFields(
      GraphQl.renderMutationFields(fs)) === Right(fs))
    assert(GraphQl.parseMutationFields(
      GraphQl.renderMutationFields(relOnly)) === Right(relOnly))
    // relationship-only returning SERVES: renderReturning answers the
    // relationship column over the returned rows
    val dir = sf("sf0.001")
    val path = s"/root/repo/target/tmp/retrel_spec_" +
      spark.sparkContext.applicationId
    graft.sources.SnapshotStore.write(
      graft.Tables.load(spark, dir, "customer")
        .select("c_custkey", "c_mktsegment"), path)
    val rs = Mutations.applyFieldsToStore(spark, path, "customer",
      "c_custkey", relOnly)
    val served = GraphQl.renderReturning(spark, dir, relOnly.head,
      rs.head).getOrElse(fail("returning declared"))
    assert(served.columns.toSeq === Seq("orders"))
    assert(served.count() === 1)
  }
  test("relationship-only READS are valid requests (Hasura serves " +
    "{ customer { orders {...} } }); truly empty selections stay loud") {
    val dir = sf("sf0.001")
    val df = QueryBuilder.run(spark, dir, parsed("""
      { customer(where: {c_custkey: {_lte: 5}}) {
          orders { k: o_orderkey } } }"""))
    assert(df.columns.toSeq === Seq("orders"))
    assert(df.count() > 0)
    assertThrows[IllegalArgumentException](
      Request("customer", fields = Nil))
    // `query { }` is an empty-selection parse error, never a
    // directive-exclusion diagnosis
    assert(GraphQl.parseRoots("query { }")
      .fold(identity, r => fail(s"accepted as $r"))
      .contains("empty selection set"))
  }
  test("'batch_idx' is a reserved stream response key: a scalar, " +
    "alias, or relationship under it refuses at PARSE time") {
    def streamErr(body: String): String =
      GraphQl.parseStream("subscription { orders_stream(cursor: " +
        "{initial_value: {o_orderkey: 0}}, batch_size: 5) " +
        s"{ $body } }")
        .fold(identity, r => fail(s"accepted reserved key as $r"))
    assert(streamErr("batch_idx: o_orderkey").contains("reserved"))
    assert(streamErr("o_orderkey batch_idx: items { l_linenumber }")
      .contains("reserved"))
  }

  test("by_pk verbs on a TRACKED table reject non-key and missing " +
    "key columns at parse time (r19 composite follow-up): a typo'd " +
    "pk_columns entry must not become a silent narrowing") {
    def err(doc: String, schema: GraphQl.Schema): String =
      GraphQl.parseMutationFields(doc, schema = schema)
        .fold(identity, r => fail(s"parsed: $r"))
    // single-key tracked table: an extra non-key entry is loud
    assert(err("""mutation { update_customer_by_pk(
        |  pk_columns: {c_custkey: 1, c_mktsegment: "A"},
        |  _set: {c_acctbal: 0.0}) { c_custkey } }""".stripMargin,
      GraphQl.fixtureSchema)
      .contains("not a primary-key column"))
    assert(err("""mutation { delete_customer_by_pk(
        |  c_custkey: 1, c_acctbal: 2.0) { c_custkey } }""".stripMargin,
      GraphQl.fixtureSchema)
      .contains("not a primary-key column"))
    // composite tracked table: a MISSING component is loud
    assert(err("""mutation { update_lineitem_by_pk(
        |  pk_columns: {l_orderkey: 1},
        |  _set: {l_quantity: 0.0}) { l_orderkey } }""".stripMargin,
      GraphQl.compositeSchema)
      .contains("l_linenumber' of 'lineitem' is required"))
    // an UNTRACKED table keeps the schema-free path (the store layer
    // checks key presence) — both spellings parse
    assert(GraphQl.parseMutationFields(
      """mutation { delete_t_by_pk(k: 1, k2: 2) { k } }""").isRight)
  }

  test("composite stream cursors (r19) round-trip the printer and " +
    "parse both tuple spellings") {
    val sr = GraphQl.parseStream(GraphQl.q229Query)
      .fold(m => fail(m), identity)
    assert(sr.cursorFields === Seq("l_orderkey", "l_linenumber"))
    assert(sr.initialTuple === Some(Seq(1L, 3L)))
    assert(GraphQl.parseStream(GraphQl.renderStream(sr)) === Right(sr))
    // from-start composite: every component null — the columns still
    // order the pages
    val fromStart = GraphQl.parseStream(
      """subscription { lineitem_stream(cursor: {initial_value:
        |{l_orderkey: null, l_linenumber: null}}, batch_size: 3) {
        |l_quantity } }""".stripMargin).fold(m => fail(m), identity)
    assert(fromStart.cursorFields === Seq("l_orderkey", "l_linenumber")
      && fromStart.initialTuple === None)
    assert(GraphQl.parseStream(GraphQl.renderStream(fromStart)) ===
      Right(fromStart))
  }

  test("_cast (r19): parses to the casted comparison, evaluates " +
    "against the casted value, and malformed spellings are loud") {
    import graft.api.QueryBuilder._
    import spark.implicits._
    // parse shape: one target type, inner ops AND
    val r = GraphQl.parse(
      """{ events(where: {event_id:
        |    {_cast: {String: {_gte: "29", _like: "%7"}}}}) {
        |  event_id } }""".stripMargin).fold(m => fail(m), identity)
    r.where match {
      case Some(Cast("event_id", "String",
          And(Gte("event_id", "29"), Like("event_id", "%7")))) => ()
      case other => fail(s"unexpected where: $other")
    }
    // semantics: lexicographic on the CASTED string — 30 in, 1007 out
    val df = Seq(30L, 996L, 1007L, 20007L).toDF("event_id")
    val got = df.filter(Cast("event_id", "String",
        Gte("event_id", "29")).toColumn)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got === Seq(30L, 996L))
    // TRY_CAST semantics: an uncastable value filters out quietly
    val s2 = Seq("5", "x", "12").toDF("v")
    assert(s2.filter(Cast("v", "bigint", Gte("v", 5L)).toColumn)
      .collect().map(_.getString(0)).toSeq.sorted === Seq("12", "5"))
    // loud spellings
    def err(doc: String): String =
      GraphQl.parse(doc).fold(identity, r => fail(s"parsed: $r"))
    assert(err("""{ events(where: {event_id: {_cast:
        |  {Nope: {_eq: 1}}}}) { event_id } }""".stripMargin)
      .contains("unsupported target type"))
    assert(err("""{ events(where: {event_id: {_cast:
        |  {String: {_eq: 1}, Int: {_eq: 1}}}}) { event_id } }"""
        .stripMargin)
      .contains("one target type"))
    assert(err("""{ events(where: {event_id: {_cast:
        |  {String: {}}}}) { event_id } }""".stripMargin)
      .contains("empty comparison"))
    // construction-time guard: non-column-local inner operators refuse
    val e = intercept[IllegalArgumentException](
      Cast("props", "String", HasKey("props", "k")))
    assert(e.getMessage.contains("no casted form"))
    val e2 = intercept[IllegalArgumentException](
      Cast("props", "String", Eq("other_col", 1L)))
    assert(e2.getMessage.contains("bind to the cast column"))
    // wire-codec round trip (single casted comparison)
    val req = Request("events", where = Some(Cast("props", "String",
      Like("props", "%4%"))), fields = Seq("event_id"))
    val json = RequestCodec.render(req)
    assert(RequestCodec.parse(json) === Right(req))
    // GraphQL render round trip
    val doc = GraphQl.render(req)
    assert(GraphQl.parse(doc) === Right(req))
  }

  test("the one-root entry points answer exactly the single root " +
    "parseRoots returns, for every root kind") {
    // (document, variables, operationName, schema)
    val corpus = Seq(
      ("""{ customer(where: {c_custkey: {_lte: 5}},
         |    order_by: {c_custkey: asc}, limit: 3) {
         |  c_custkey nation { n_name }
         |  orders(limit: 2, order_by: {o_orderkey: asc}) { o_orderkey }
         |} }""".stripMargin, "{}", None, GraphQl.fixtureSchema),
      ("{ customer_by_pk(c_custkey: 7) { c_custkey c_name } }", "{}",
        None, GraphQl.fixtureSchema),
      ("""{ lineitem_by_pk(l_orderkey: 1, l_linenumber: 3) {
         |  l_orderkey l_quantity } }""".stripMargin, "{}", None,
        GraphQl.compositeSchema),
      ("""{ orders_aggregate(where: {o_orderstatus: {_eq: "O"}},
         |    order_by: {o_totalprice: desc}, limit: 5) {
         |  aggregate { count sum { o_totalprice } }
         |  nodes { o_orderkey }
         |} }""".stripMargin, "{}", None, GraphQl.fixtureSchema),
      (GraphQl.q204Query, "{}", None, GraphQl.fixtureSchema),
      (GraphQl.q192Doc, "{}", None, GraphQl.fixtureSchema),
      (GraphQl.q191Doc, """{"hide": true}""", Some("Pick"),
        GraphQl.fixtureSchema),
      ("""query C { customer(limit: 2) { ...Cols } }
         |fragment Cols on customer { c_custkey orders { o_orderkey } }"""
        .stripMargin, "{}", None, GraphQl.fixtureSchema),
      ("""query ($k: bigint!) {
         |  customer(where: {c_custkey: {_eq: $k}}) { c_custkey } }"""
        .stripMargin, """{"k": 5}""", None, GraphQl.fixtureSchema),
      ("""subscription ($on: Boolean!) {
         |  orders_aggregate @include(if: $on) {
         |    aggregate { count max @skip(if: true) { o_totalprice } }
         |  } }""".stripMargin, """{"on": true}""", None,
        GraphQl.fixtureSchema),
      (GraphQl.q179Doc, """{"all": false}""", Some("Sel"),
        GraphQl.fixtureSchema),
      (GraphQl.q179Doc, "{}", Some("Other"), GraphQl.fixtureSchema))
    val kinds = corpus.map { case (doc, vars, op, schema) =>
      val roots = GraphQl.parseRoots(doc, schema, vars, op)
        .fold(m => fail(s"$m\n$doc"), identity)
      assert(roots.length === 1, doc)
      val root = roots.head._2
      val one = root match {
        case GraphQl.ReadRoot(_) =>
          GraphQl.parse(doc, schema, vars, op).map(GraphQl.ReadRoot)
        case GraphQl.ByPkRoot(_) =>
          GraphQl.parse(doc, schema, vars, op).map(GraphQl.ByPkRoot)
        case GraphQl.AggRoot(_) =>
          GraphQl.parseRootAggregate(doc, vars).map(GraphQl.AggRoot)
        case GraphQl.StreamRoot(_) =>
          GraphQl.parseStream(doc, schema, vars, op).map(GraphQl.StreamRoot)
      }
      assert(one === Right(root), doc)
      root.getClass.getSimpleName
    }
    assert(kinds.toSet ===
      Set("ReadRoot", "ByPkRoot", "AggRoot", "StreamRoot"))
  }

  private def aggLeft(doc: String): String =
    GraphQl.parseRootAggregate(doc).fold(identity, r => fail(s"parsed: $r"))

  test("parseRootAggregate: a document of several operations needs " +
    "operationName, like every other entry point") {
    val agg = "{ orders_aggregate { aggregate { count } } }"
    val m = aggLeft(s"query A $agg\nquery B $agg")
    assert(m.contains("operationName is required"), m)
  }

  test("parseRootAggregate: a mutation document is diagnosed as one, " +
    "the way parse diagnoses it") {
    val m = aggLeft("mutation { delete_customer(" +
      "where: {c_custkey: {_eq: 1}}) { affected_rows } }")
    assert(m.contains("serve it through parseMutationFields"), m)
  }
}
