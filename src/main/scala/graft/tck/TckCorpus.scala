package graft.tck

/** The wired TCK corpus, partitioned into shards so sbt runs them as
  * PARALLEL suites (Test/testForkedParallel + a shared SparkSession):
  * the single-suite serial walk crossed the 30-minute gate line as the
  * corpus grew past ~5800 scenarios. Lives in main scope so tools
  * (graft.tools.SkipsReport) can walk the same file list the test
  * suites assert on — SKIPS.md is generated from THIS list. */
object TckCorpus {
  private val root = "/root/reference/tests/tck/features"
  private val oc = "/root/reference/tests/tck/openCypher/features"
  /** The fixture spaces' CSVs (nba, student, ngdata), beside tck/. */
  val dataDir: String =
    java.nio.file.Paths.get(root).getParent.getParent.resolve("data").toString
  val features = Seq(
    s"$root/go/GO.feature",
    s"$root/fetch/FetchVertices.strVid.feature",
    s"$root/lookup/WithYield.feature",
    // LookUpTopN's ORDER BY+LIMIT tie cuts match since round 7's
    // whole-row ascending tiebreak (the reference's storage order
    // coincides with it on these goldens)
    s"$root/lookup/LookUpTopN.feature",
    s"$root/lookup/LookUpLimit.feature",
    s"$root/lookup/TagIndexFullScan.feature",
    s"$root/lookup/Output.feature",
    // (GroupbyLimit excluded like LookUpTopN: LIMIT after ORDER BY on
    // an all-NULL key makes the surviving rows order-ambiguous)
    s"$root/go/Orderby.feature",
    // MATCH surface (round 3)
    s"$root/match/Base.feature",
    s"$root/match/MatchById.feature",
    s"$root/match/SeekById.feature",
    s"$root/match/SeekByTag.feature",
    s"$root/match/StartFromAnyNode.feature",
    s"$root/match/MatchGroupBy.feature",
    s"$root/match/MultiQueryParts.feature",
    s"$root/match/VariableLengthPattern.feature",
    s"$root/match/ZeroStep.feature",
    s"$root/match/PipeAndVariable.feature",
    s"$root/match/MatchByVariable.feature",
    s"$root/match/With.feature",
    s"$root/match/Unwind.feature",
    // FETCH edge form + set sentences (round 3)
    s"$root/fetch/FetchEdges.strVid.feature",
    s"$root/set/Set.feature",
    // expression / aggregate / yield / function surface (round 3)
    s"$root/expression/Case.feature",
    s"$root/expression/EndsWith.feature",
    s"$root/expression/StartsWith.feature",
    s"$root/expression/In.feature",
    s"$root/expression/NotIn.feature",
    s"$root/expression/LogicalExpression.feature",
    s"$root/expression/RelationalExpr.feature",
    s"$root/expression/Null.feature",
    s"$root/expression/FunctionCall.feature",
    s"$root/expression/Attribute.feature",
    s"$root/expression/UnaryExpr.feature",
    s"$root/aggregate/Agg.feature",
    s"$root/yield/yield.feature",
    s"$root/function/coalesce.feature",
    s"$root/function/round.feature",
    // lambda expressions: quantifiers, comprehensions, reduce, slices
    s"$root/expression/Predicate.feature",
    s"$root/expression/ListComprehension.feature",
    s"$root/expression/Reduce.feature",
    s"$root/expression/ListRangeSubscript.feature",
    // round 4: int-vid spaces (hash()-keyed twins of the nba fixtures)
    s"$root/go/GO.IntVid.feature",
    s"$root/fetch/FetchVertices.intVid.feature",
    s"$root/fetch/FetchEdges.intVid.feature",
    s"$root/yield/yield.IntVid.feature",
    s"$root/set/Set.IntVid.feature",
    s"$root/match/Base.IntVid.feature",
    s"$root/match/MatchById.IntVid.feature",
    s"$root/match/SeekById.intVid.feature",
    s"$root/match/SeekByTag.intVid.feature",
    s"$root/match/StartFromAnyNode.IntVid.feature",
    s"$root/match/VariableLengthPattern.intVid.feature",
    s"$root/match/ZeroStep.intVid.feature",
    s"$root/lookup/WithYield.intVid.feature",
    s"$root/lookup/Output.intVid.feature",
    // round 4: more str-vid surface
    s"$root/match/Scan.feature",
    s"$root/match/ZeroStep2.feature",
    s"$root/match/RedefinedNode.feature",
    s"$root/match/SelfReflectiveEdges.feature",
    s"$root/match/SameTagPropname.feature",
    s"$root/match/MultiLineMultiQueryParts.feature",
    s"$root/go/GoYieldVertexEdge.feature",
    s"$root/go/SimpleCase.feature",
    s"$root/expression/Regex.feature",
    s"$root/expression/LabelExpr.feature",
    s"$root/expression/function/Mathematical.feature",
    s"$root/expression/function/TypeConversion.feature",
    s"$root/function/json_extract.feature",
    s"$root/yield/return.feature",
    // round 4: path + subgraph TCK directories
    s"$root/path/AllPath.feature",
    s"$root/path/AllPath.IntVid.feature",
    s"$root/path/NoLoop.feature",
    s"$root/path/NoLoop.IntVid.feature",
    s"$root/path/ShortestPath.feature",
    s"$root/path/ShortestPath.IntVid.feature",
    s"$root/path/singleShortestPath.feature",
    s"$root/subgraph/subgraph.feature",
    s"$root/subgraph/subgraph.IntVid.feature",
    s"$root/subgraph/subgraphWithFilter.feature",
    // round 5: MATCH shortestPath()/allShortestPaths() text surface
    s"$root/match/SingleShorestPath.feature",
    s"$root/match/AllShortestPaths.feature",
    // round 5: DML sentences (INSERT/UPDATE/UPSERT/DELETE) against
    // scenario-local spaces (ScenarioCatalog)
    s"$root/insert/Insert.feature",
    s"$root/insert/Insert.IntVid.feature",
    s"$root/insert/InsertIfNotExists.feature",
    s"$root/insert/insertVertexOnly.feature",
    s"$root/update/Update.feature",
    s"$root/update/Update.IntVid.feature",
    s"$root/update/MultiUpdate.feature",
    s"$root/delete/DeleteVertex.feature",
    s"$root/delete/DeleteVertex.IntVid.feature",
    s"$root/delete/DeleteEdge.feature",
    s"$root/delete/DeleteEdge.IntVid.feature",
    s"$root/delete/DeleteTag.feature",
    s"$root/delete/DeleteTag.IntVid.feature",
    s"$root/delete/DeleteVertexWithoutEdge.feature",
    // round 5: geography storage surface (WKT round-trip; spherical
    // predicates on lines/polygons stay unsupported -> skipped)
    s"$root/geo/GeoBase.feature",
    // round 6: TTL expiry reads + schema/space DDL surface
    // (SHOW CREATE TAG/EDGE/SPACE/INDEX, DESC SPACE, comments)
    s"$root/ttl/TTL.feature",
    s"$root/ttl/TTL2.feature",
    s"$root/schema/Comment.feature",
    s"$root/schema/CreateSpaceAs.feature",
    s"$root/schema/Schema.feature",
    // round 5: openCypher TCK subset (expression surface).
    // Dropped (zero executable scenarios — coverage claims without
    // evidence, per round-5 verdict #2):
    //  - Map1: heterogeneous lists ([{num:0},1]) — Spark arrays are
    //    homogeneous, the surface cannot exist
    //  - Map2: every scenario is a parse-error golden whose syntax the
    //    parser rejects at feature-parse time (zero runnable)
    //  - Path1: nodes(null) / OPTIONAL MATCH seeded from a null var
    s"$oc/expressions/list/List2.feature",
    s"$oc/expressions/path/Path2.feature",
    s"$oc/expressions/path/Path3.feature",
    // round 7: the bugfix/ directory — real-user regression scenarios.
    // All 48 files triaged and wired. Round 8's pattern-expression
    // support (Expr.PatternE → RollUpApply) revived
    // AggPatternExpression, ExtractFilter and BoolCheckingInExpr;
    // node-list columns + id()-on-lambda-var revived AliasTypeDeduce.
    s"$root/bugfix/AliasTypeDeduce.feature",
    s"$root/bugfix/AggPatternExpression.feature",
    s"$root/bugfix/BoolCheckingInExpr.feature",
    s"$root/bugfix/ExtractFilter.feature",
    s"$root/bugfix/ArgumentPlanNodeDep.feature",
    s"$root/bugfix/BuildPathMistake.feature",
    s"$root/bugfix/CompareDate.feature",
    s"$root/bugfix/ContainsFilter.feature",
    s"$root/bugfix/CrashWhenNullPathExpr.feature",
    s"$root/bugfix/CreateDurationAsDefaultValue.feature",
    s"$root/bugfix/DropRootUser.feature",
    s"$root/bugfix/DupAliasInMatch.feature",
    s"$root/bugfix/FindStartError.feature",
    s"$root/bugfix/FixIterCrash.feature",
    s"$root/bugfix/GetEdgesTransformLimitRule.feature",
    s"$root/bugfix/InnerVar.feature",
    s"$root/bugfix/InsertMismatchedTypeDateTime.feature",
    s"$root/bugfix/LabelIndexCrash.feature",
    s"$root/bugfix/LackFilterGetEdges.feature",
    s"$root/bugfix/ListSlicingWithNull.feature",
    s"$root/bugfix/LookupIn.feature",
    s"$root/bugfix/MTSafeConcurrencyVariables.feature",
    s"$root/bugfix/MatchCrash.feature",
    s"$root/bugfix/MatchJoinOnEdge.feature",
    s"$root/bugfix/MatchNodeLabelFilter.feature",
    s"$root/bugfix/MatchNotFilterTheUndeclaredTag.feature",
    s"$root/bugfix/MatchReturnEmptyTag.feature",
    s"$root/bugfix/MatchUsedInPipe.feature",
    s"$root/bugfix/NaNInfinityFloat.feature",
    s"$root/bugfix/NullInputOfLength.feature",
    s"$root/bugfix/NullProp.feature",
    s"$root/bugfix/ParameterQuery.feature",
    s"$root/bugfix/PredicationPushDownInGo.feature",
    s"$root/bugfix/PrunePropertiesError.feature",
    s"$root/bugfix/PushFilterDownProject.feature",
    s"$root/bugfix/RewriteEdgeFilter.feature",
    s"$root/bugfix/RoundFloat.feature",
    s"$root/bugfix/StringFlaotAddition.feature",
    s"$root/bugfix/SubgraphBeforePipe.feature",
    s"$root/bugfix/SubscriptInUpdate.feature",
    s"$root/bugfix/SyntaxErrorCrash.feature",
    s"$root/bugfix/TestYieldConstantAfterPipe.feature",
    s"$root/bugfix/TimeDefaultValue.feature",
    s"$root/bugfix/TruncatedStringIndex.feature",
    s"$root/bugfix/TypoError.feature",
    s"$root/bugfix/UseSpaceAndMatch.feature",
    s"$root/bugfix/VariableExpression.feature",
    s"$root/bugfix/VidInvalidLength.feature",
    // round 7: remaining match/ files (Path.feature parses zero
    // runnable scenarios — its queries are all openCypher CASE paths
    // the parser rejects whole)
    s"$root/match/IndexSelecting.feature",
    s"$root/match/PathExpr.feature",
    s"$root/match/PathExprRefLocalVariable.feature",
    s"$root/match/PushFilterDown.feature",
    s"$root/match/SeekByEdge.feature",
    // round 7: remaining lookup/ files (LookupEdge2 executes zero —
    // every scenario needs fulltext index surface, out of scope)
    s"$root/lookup/ByIndex.feature",
    s"$root/lookup/ByIndex.intVid.feature",
    s"$root/lookup/EdgeIndexFullScan.feature",
    s"$root/lookup/LookUp.feature",
    s"$root/lookup/LookUp.IntVid.feature",
    s"$root/lookup/LookUpUpdate.feature",
    s"$root/lookup/LookupEdge.feature",
    s"$root/lookup/LookupTag.feature",
    s"$root/lookup/LookupTag2.feature",
    // round 7: remaining expression/ files (Attribute1 and
    // BugFixWithngdata parse zero runnable scenarios — all their
    // queries are parse-reject goldens)
    s"$root/expression/Depth.feature",
    s"$root/expression/FixedString.feature",
    s"$root/expression/TimeComparison.feature",
    s"$root/expression/TimeComputation.feature",
    // round 7: the optimizer/ directory. These features assert result
    // tables AND reference execution plans; the plan tables describe
    // the reference's own operator DAG, which has no counterpart in a
    // Catalyst plan, so the runner checks the result halves (the
    // Spark-side plan discipline is asserted separately in PlanSpec).
    // CasesUsingTestSpace + PushFilterDownBugFixes excluded: they need
    // the ngdata fixture space (1 scenario each).
    // PushLimitDownExpandAllRule / PushLimitDownScanEdgesRule /
    // PushLimitDownScanVerticesRule / PushSampleDownRule excluded like
    // LookUpTopN: `... | LIMIT n` / `LIMIT [n]` without ORDER BY keeps
    // a storage-order-defined subset of rows, so ANY reimplementation's
    // row choice is valid but cannot match the recorded golden rows.
    s"$root/optimizer/CollapseProjectRule.feature",
    s"$root/optimizer/CombineFilterRule.feature",
    s"$root/optimizer/EliminateAppendVerticesRule.feature",
    s"$root/optimizer/ElimintateInvalidProp.feature",
    s"$root/optimizer/EmbedEdgeAllPredIntoTraverseRule.feature",
    s"$root/optimizer/IndexScanRule.feature",
    s"$root/optimizer/MergeGetNbrsDedupProjectRule.feature",
    s"$root/optimizer/MergeGetVerticesDedupProjectRule.feature",
    s"$root/optimizer/PrunePropertiesRule.feature",
    s"$root/optimizer/PushEFilterDownRule.feature",
    s"$root/optimizer/PushFilterDownAggregateRule.feature",
    s"$root/optimizer/PushFilterDownCrossJoinRule.feature",
    s"$root/optimizer/PushFilterDownExpandAllRule.feature",
    s"$root/optimizer/PushFilterDownHashInnerJoinRule.feature",
    s"$root/optimizer/PushFilterDownHashLeftJoinRule.feature",
    s"$root/optimizer/PushFilterDownNodeRule.feature",
    s"$root/optimizer/PushFilterDownProjectRule.feature",
    s"$root/optimizer/PushFilterDownTraverseRule.feature",
    s"$root/optimizer/PushLimitDownProjectRule.feature",
    s"$root/optimizer/RemoveAppendVerticesBelowJoinRule.feature",
    s"$root/optimizer/RemoveUselessProjectRule.feature",
    s"$root/optimizer/TopNRule.feature",
    // round 7: second breadth wave — remaining small dirs
    s"$root/go/SampleLimit.feature",
    s"$root/yield/join.feature",
    s"$root/yield/parameter.feature",
    s"$root/yield/NoSpaceChosen.feature",
    s"$root/basic/data.feature",
    s"$root/mutate/InsertWithTimeType.feature",
    s"$root/mutate/InsertDurationType.feature",
    s"$root/mutate/ClearSpace.feature",
    s"$root/insert/BoundCheck.feature",
    s"$root/insert/InsertEdgeOnDiffParts.feature",
    s"$root/index/Index.feature",
    s"$root/index/Index.IntVid.feature",
    s"$root/index/TagEdgeIndex.feature",
    s"$root/ddl/Ddl.feature",
    s"$root/fetch/FetchEmpty.feature",
    // round 7 third wave. Not wired, with reasons:
    //  - verify_client_version, admin/{Authentication,Sessions,Hosts},
    //    user/User, parser/nebula: every scenario needs connection/
    //    login/SHOW-cluster steps the engine has no counterpart for
    //    (zero executable scenarios)
    //  - go/GroupbyLimit[.IntVid]: LIMIT over an all-NULL ORDER key —
    //    order-ambiguous goldens (same reason as LookUpTopN)
    //  - (round 8) lookup/LookupEdge2 + fulltext_index/* are WIRED
    //    below: ES_QUERY/score()/fulltext DDL run natively
    //    (graft.nql.Fulltext BM25, no external search cluster)
    // round 8: match/Path wired (ngdata fixture space + alias
    // redefinition semantics + keys/src/dst on list elements); its 8
    // remaining skips are the feature's own upstream @skip tags
    s"$root/match/Path.feature",
    s"$root/explain/ExplainAndProfile.feature",
    s"$root/basic/Parser.feature",
    s"$root/parser/Example.feature",
    s"$root/go/SampleLimit.intVid.feature",
    // round 8: the ngdata-fixture files execute now that the fixture
    // space exists; Attribute1 executes once UNWIND nodes(p) binds raw
    // vids (the alias acts as a vertex var for lazy tag-prop access)
    s"$root/optimizer/CasesUsingTestSpace.feature",
    s"$root/optimizer/PushFilterDownBugFixes.feature",
    s"$root/expression/BugFixWithngdata.feature",
    s"$root/expression/Attribute1.feature",
    // round 8: native fulltext (ES_QUERY → graft.nql.Fulltext BM25,
    // bit-exact vs the goldens' recorded ES scores; fulltext DDL on
    // the scenario catalog) — the former "out of scope" gap
    s"$root/fulltext_index/FulltextIndexScan.feature",
    s"$root/fulltext_index/FultextIndexDDL.feature",
    s"$root/lookup/LookupEdge2.feature")

  private def dirOf(f: String) = f.split('/').dropRight(1).last
  // shard assignment by TCK directory, sized so the slowest shard
  // (own-space DML) stays well under the old serial wall:
  //   1 = match, 2 = go/yield/lookup/fetch + sentence dirs,
  //   3 = own-space DML/DDL dirs, 4 = the two big index files,
  //   0 = everything else (expression/path/bugfix/optimizer/oc/...)
  private val shardByDir: Map[String, Int] = Map(
    "match" -> 1,
    "go" -> 2, "yield" -> 2, "lookup" -> 2, "fetch" -> 2, "set" -> 2,
    "explain" -> 2, "basic" -> 2, "parser" -> 2,
    "insert" -> 3, "update" -> 3, "delete" -> 3, "schema" -> 3,
    "ttl" -> 3, "mutate" -> 3, "ddl" -> 3, "geo" -> 3,
    "index" -> 4)
  def shard(n: Int): Seq[String] =
    features.filter(f => shardByDir.getOrElse(dirOf(f), 0) == n)
}
